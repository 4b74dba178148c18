"""MySQL binlog v4 wire decode — the real byte format, parsed in
Python, distributed over self-contained segments with Spark.

Closes the SURVEY §7.2 MySQL-side boundary: the reference consumes
decoded events from its binlog connector and dispatches them
(dispatch_event crates/sources/src/mysql/mysql_event.rs:74-120,
handle_table_map :123-160, row handlers :162-428); the byte-level
grammar itself is the public MySQL binary-log format (binlog v4 event
header, FORMAT_DESCRIPTION, TABLE_MAP, WRITE/UPDATE/DELETE_ROWS v2,
GTID, QUERY, XID, ROTATE — documented in the MySQL Internals manual).
This module implements that grammar both ways:

- **encode**: a deterministic binlog-segment writer that the fixtures
  (``sources/fixtures.py``) and the benchmark generator build on
  (byte-pinned in unit tests against hand-computed vectors), including
  CRC32 event checksums and running ``log_pos`` offsets;
- **decode**: one strict framer, ``BinlogTailer`` (magic check, CRC
  verification, header ``log_pos`` cross-check against actual bytes
  consumed, loud ``BinlogError`` on any truncation), which
  ``parse_segment`` feeds a whole segment, and one flattener,
  ``segment_rows``, producing CDC rows with JSON before/after images.

Distribution model: a binlog *file* is sequential by construction
(TABLE_MAP applies to following row events, GTID/XID bracket them), so
the unit of parallelism is the **segment** (= one binlog file after a
rotate). Each segment decodes independently in ``mapInPandas`` — at
100 TB you get one task per segment, linear scale-out, zero shuffle in
the decode itself; this is exactly how Debezium-style snapshots of
binlog archives parallelize.

Column names are NOT in the binlog (TABLE_MAP carries only types) — the
decoder takes a ``{(db, table): [column names]}`` mapping, mirroring the
reference's schema-registry lookup (mysql_event.rs handle_table_map →
schema.load_schema).

Signedness caveat (documented, same as the wire): integer columns carry
no sign flag in TABLE_MAP metadata; values decode as signed, and the
unsigned-bigint correction is applied downstream by the schema type
rules (functions/typerules.py), like the reference's decode path.
"""

from __future__ import annotations

import json
import struct
import traceback
import zlib
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.jsonb import jsonb_decode, jsonb_encode

MAGIC = b"\xfebin"
HEADER_LEN = 19
CRC_LEN = 4

# event type codes (public enum Log_event_type)
QUERY_EVENT = 2
ROTATE_EVENT = 4
FORMAT_DESCRIPTION_EVENT = 15
XID_EVENT = 16
TABLE_MAP_EVENT = 19
WRITE_ROWS_EVENT = 30
UPDATE_ROWS_EVENT = 31
DELETE_ROWS_EVENT = 32
GTID_LOG_EVENT = 33

#: number of post-header-length slots we emit in the FDE (covers all
#: event types through GTID_LOG_EVENT; MySQL 8.0 emits 40+)
FDE_EVENT_TYPES = 40

# column type codes (public enum enum_field_types)
MYSQL_TYPE_TINY = 1
MYSQL_TYPE_SHORT = 2
MYSQL_TYPE_LONG = 3
MYSQL_TYPE_FLOAT = 4
MYSQL_TYPE_DOUBLE = 5
MYSQL_TYPE_LONGLONG = 8
MYSQL_TYPE_INT24 = 9
MYSQL_TYPE_DATE = 10
MYSQL_TYPE_YEAR = 13
MYSQL_TYPE_VARCHAR = 15
MYSQL_TYPE_TIMESTAMP2 = 17
MYSQL_TYPE_DATETIME2 = 18
MYSQL_TYPE_TIME2 = 19
MYSQL_TYPE_JSON = 245
MYSQL_TYPE_NEWDECIMAL = 246
MYSQL_TYPE_ENUM = 247
MYSQL_TYPE_SET = 248
MYSQL_TYPE_BLOB = 252
MYSQL_TYPE_VAR_STRING = 253
MYSQL_TYPE_STRING = 254


class BinlogError(ValueError):
    """Raised on malformed binlog bytes — bad magic, CRC mismatch,
    truncated event, log_pos drift, unknown needed column type. Loud,
    never a silent partial decode."""


# ------------------------------------------------------------------
# primitives
# ------------------------------------------------------------------


def encode_lenenc(n: int) -> bytes:
    """MySQL length-encoded integer."""
    if n < 0:
        raise BinlogError(f"lenenc int must be >= 0, got {n}")
    if n < 0xFB:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + n.to_bytes(2, "little")
    if n < 1 << 24:
        return b"\xfd" + n.to_bytes(3, "little")
    return b"\xfe" + n.to_bytes(8, "little")


def read_lenenc(buf: bytes, off: int) -> tuple[int, int]:
    if off >= len(buf):
        raise BinlogError("lenenc int truncated")
    first = buf[off]
    if first < 0xFB:
        return first, off + 1
    if first == 0xFC:
        return int.from_bytes(buf[off + 1 : off + 3], "little"), off + 3
    if first == 0xFD:
        return int.from_bytes(buf[off + 1 : off + 4], "little"), off + 4
    if first == 0xFE:
        return int.from_bytes(buf[off + 1 : off + 9], "little"), off + 9
    raise BinlogError(f"invalid lenenc prefix {first:#x}")


def _bitmap_get(bitmap: bytes, idx: int) -> bool:
    return bool(bitmap[idx // 8] & (1 << (idx % 8)))


def _bitmap_of(flags: list[bool]) -> bytes:
    out = bytearray((len(flags) + 7) // 8)
    for i, f in enumerate(flags):
        if f:
            out[i // 8] |= 1 << (i % 8)
    return bytes(out)


# --- DATETIME2 (5-byte big-endian packed + fractional seconds) -------

_DT2_OFFSET = 0x8000000000  # sign bit: stored value = packed + offset


def encode_datetime2(epoch_us: int, fsp: int = 6) -> bytes:
    """Pack a UTC epoch-µs instant into MySQL DATETIME2(fsp) bytes:
    40-bit big-endian intpart (1 sign, 17 year*13+month, 5 day, 5 hour,
    6 minute, 6 second) then big-endian fraction (fsp 5-6 → 3 bytes of
    µs)."""
    ts = pd.Timestamp(int(epoch_us), unit="us")
    ym = ts.year * 13 + ts.month
    packed = (
        _DT2_OFFSET
        | (ym << 22)
        | (ts.day << 17)
        | (ts.hour << 12)
        | (ts.minute << 6)
        | ts.second
    )
    out = packed.to_bytes(5, "big")
    if fsp == 0:
        return out
    if fsp in (1, 2):
        return out + (ts.microsecond // 10000).to_bytes(1, "big")
    if fsp in (3, 4):
        return out + (ts.microsecond // 100).to_bytes(2, "big")
    return out + ts.microsecond.to_bytes(3, "big")


def decode_datetime2(buf: bytes, off: int, fsp: int = 6) -> tuple[int, int]:
    """Inverse of :func:`encode_datetime2`; returns (epoch_us, next_off)."""
    if off + 5 > len(buf):
        raise BinlogError("datetime2 truncated")
    packed = int.from_bytes(buf[off : off + 5], "big") - _DT2_OFFSET
    off += 5
    second = packed & 0x3F
    minute = (packed >> 6) & 0x3F
    hour = (packed >> 12) & 0x1F
    day = (packed >> 17) & 0x1F
    ym = (packed >> 22) & 0x1FFFF
    year, month = divmod(ym, 13)
    micro = 0
    if fsp in (1, 2):
        micro = buf[off] * 10000
        off += 1
    elif fsp in (3, 4):
        micro = int.from_bytes(buf[off : off + 2], "big") * 100
        off += 2
    elif fsp in (5, 6):
        micro = int.from_bytes(buf[off : off + 3], "big")
        off += 3
    # pure-integer civil-date → epoch days (no datetime object per value
    # — this runs once per row in the decode hot loop)
    y = year - (1 if month <= 2 else 0)
    era = (y if y >= 0 else y - 399) // 400
    yoe = y - era * 400
    doy = (153 * (month + (-3 if month > 2 else 9)) + 2) // 5 + day - 1
    days = era * 146097 + yoe * 365 + yoe // 4 - yoe // 100 + doy - 719468
    epoch_us = (days * 86400 + hour * 3600 + minute * 60 + second) * 1_000_000 + micro
    return epoch_us, off


# --- remaining temporal types ---------------------------------------


def encode_date(s: str) -> bytes:
    """DATE: 3 bytes LE of day | month<<5 | year<<9 (public layout)."""
    y, m, d = (int(x) for x in s.split("-"))
    return (d | (m << 5) | (y << 9)).to_bytes(3, "little")


def decode_date(buf: bytes, off: int) -> tuple[str, int]:
    if off + 3 > len(buf):
        raise BinlogError("date truncated")
    v = int.from_bytes(buf[off : off + 3], "little")
    return f"{v >> 9:04d}-{(v >> 5) & 0x0F:02d}-{v & 0x1F:02d}", off + 3


def encode_timestamp2(epoch_us: int, fsp: int = 0) -> bytes:
    """TIMESTAMP2: u32 BIG-endian unix seconds + DATETIME2-style
    fraction bytes."""
    if epoch_us < 0:
        raise BinlogError("timestamp2 is unsigned (post-epoch only)")
    sec, us = divmod(int(epoch_us), 1_000_000)
    out = sec.to_bytes(4, "big")
    if fsp == 0:
        return out
    if fsp in (1, 2):
        return out + (us // 10000).to_bytes(1, "big")
    if fsp in (3, 4):
        return out + (us // 100).to_bytes(2, "big")
    return out + us.to_bytes(3, "big")


def decode_timestamp2(buf: bytes, off: int, fsp: int = 0) -> tuple[int, int]:
    frac = 0 if fsp == 0 else (1 if fsp <= 2 else (2 if fsp <= 4 else 3))
    if off + 4 + frac > len(buf):
        raise BinlogError("timestamp2 truncated")
    sec = int.from_bytes(buf[off : off + 4], "big")
    off += 4
    us = 0
    if fsp in (1, 2):
        us = buf[off] * 10000
        off += 1
    elif fsp in (3, 4):
        us = int.from_bytes(buf[off : off + 2], "big") * 100
        off += 2
    elif fsp in (5, 6):
        us = int.from_bytes(buf[off : off + 3], "big")
        off += 3
    return sec * 1_000_000 + us, off


_TIME2_OFFSET = 0x800000


def encode_time2(s: str, fsp: int = 0) -> bytes:
    """TIME2: 3 bytes big-endian of hours<<12 | minutes<<6 | seconds,
    offset-binary around 0x800000 (negative durations below the
    midpoint), plus DATETIME2-style fraction. Negative fractional
    times use MySQL's borrow encoding — out of scope here, loud."""
    neg = s.startswith("-")
    if neg:
        s = s[1:]
    hms, _, frac = s.partition(".")
    h, m, sec = (int(x) for x in hms.split(":"))
    us = int(frac.ljust(6, "0")) if frac else 0
    if neg and us:
        raise BinlogError("negative fractional TIME2 not supported")
    packed = (h << 12) | (m << 6) | sec
    stored = _TIME2_OFFSET - packed if neg else _TIME2_OFFSET + packed
    out = stored.to_bytes(3, "big")
    if fsp == 0:
        return out
    if fsp in (1, 2):
        return out + (us // 10000).to_bytes(1, "big")
    if fsp in (3, 4):
        return out + (us // 100).to_bytes(2, "big")
    return out + us.to_bytes(3, "big")


def decode_time2(buf: bytes, off: int, fsp: int = 0) -> tuple[str, int]:
    frac = 0 if fsp == 0 else (1 if fsp <= 2 else (2 if fsp <= 4 else 3))
    if off + 3 + frac > len(buf):
        raise BinlogError("time2 truncated")
    raw = int.from_bytes(buf[off : off + 3], "big") - _TIME2_OFFSET
    off += 3
    neg = raw < 0
    packed = -raw if neg else raw
    h, m, sec = packed >> 12, (packed >> 6) & 0x3F, packed & 0x3F
    us = 0
    if fsp in (1, 2):
        us = buf[off] * 10000
        off += 1
    elif fsp in (3, 4):
        us = int.from_bytes(buf[off : off + 2], "big") * 100
        off += 2
    elif fsp in (5, 6):
        us = int.from_bytes(buf[off : off + 3], "big")
        off += 3
    out = f"{'-' if neg else ''}{h:02d}:{m:02d}:{sec:02d}"
    if fsp:
        out += f".{us:06d}"[: 1 + fsp]
    return out, off


# --- NEWDECIMAL (packed base-10^9 big-endian groups) -----------------
#
# The public myisampack decimal layout: digits split into groups of 9,
# each group stored big-endian in the minimal byte width; the leading
# (partial) integer group and trailing (partial) fraction group use the
# width for their digit count. Negative values store all bytes
# complemented; the first byte's MSB is then flipped, so a stored MSB of
# 1 means positive. Metadata carries (precision, scale).
# Documented example: DECIMAL(14,4) 1234567890.1234
#   → 81 0D FB 38 D2 04 D2 (pinned in tests).

_DEC_GROUP_BYTES = [0, 1, 1, 2, 2, 3, 3, 4, 4, 4]  # bytes for 0..9 digits


def newdecimal_bin_size(precision: int, scale: int) -> int:
    ipd = precision - scale
    size = 0
    for part in (ipd, scale):
        size += (part // 9) * 4 + _DEC_GROUP_BYTES[part % 9]
    return size


def encode_newdecimal(s: str, precision: int, scale: int) -> bytes:
    neg = s.startswith("-")
    if neg:
        s = s[1:]
    ip, _, fp = s.partition(".")
    if len(fp) > scale:
        raise BinlogError(f"fraction wider than scale in {s!r}")
    fp = fp.ljust(scale, "0")
    ipd = precision - scale
    ip = ip.lstrip("0")
    if len(ip) > ipd:
        raise BinlogError(f"integer part of {s!r} exceeds precision")
    ip = ip.rjust(ipd, "0")
    buf = bytearray()
    lead = ipd % 9
    if lead:
        buf += int(ip[:lead] or "0").to_bytes(_DEC_GROUP_BYTES[lead], "big")
    for i in range(lead, ipd, 9):
        buf += int(ip[i : i + 9]).to_bytes(4, "big")
    full_frac = (scale // 9) * 9
    for i in range(0, full_frac, 9):
        buf += int(fp[i : i + 9]).to_bytes(4, "big")
    tail = scale - full_frac
    if tail:
        buf += int(fp[full_frac:]).to_bytes(_DEC_GROUP_BYTES[tail], "big")
    if neg:
        for i in range(len(buf)):
            buf[i] ^= 0xFF
    buf[0] ^= 0x80
    return bytes(buf)


def decode_newdecimal(buf: bytes, off: int, precision: int, scale: int) -> tuple[str, int]:
    # hot path: one int.from_bytes of the whole value, sign handled by
    # int-level XOR (no bytearray copy, no per-byte loop), base-1e9
    # groups extracted by shift/mask and folded into ONE integer per
    # side (no per-group str+rjust+join) — ~5x over the per-group
    # string build this replaced, same output for every valid encoding
    size = newdecimal_bin_size(precision, scale)
    if off + size > len(buf):
        raise BinlogError("newdecimal truncated")
    whole = int.from_bytes(buf[off : off + size], "big")
    positive = (buf[off] & 0x80) != 0
    whole ^= 0x80 << (8 * (size - 1))
    if not positive:
        whole ^= (1 << (8 * size)) - 1
    ipd = precision - scale
    rem = size  # bytes remaining to the RIGHT of the cursor
    ival = 0
    lead = ipd % 9
    if lead:
        nb = _DEC_GROUP_BYTES[lead]
        rem -= nb
        ival = (whole >> (8 * rem)) & ((1 << (8 * nb)) - 1)
    for _ in range(ipd // 9):
        rem -= 4
        ival = ival * 1000000000 + ((whole >> (8 * rem)) & 0xFFFFFFFF)
    fval = 0
    for _ in range(scale // 9):
        rem -= 4
        fval = fval * 1000000000 + ((whole >> (8 * rem)) & 0xFFFFFFFF)
    tail = scale % 9
    if tail:
        nb = _DEC_GROUP_BYTES[tail]
        rem -= nb
        fval = fval * (10 ** tail) + ((whole >> (8 * rem)) & ((1 << (8 * nb)) - 1))
    out = str(ival)
    if scale:
        out = f"{out}.{fval:0{scale}d}"
    if not positive and (ival or fval):
        out = "-" + out
    return out, off + size


# --- per-type value codec -------------------------------------------


def encode_value(col_type: int, meta: int, v: Any) -> bytes:
    if col_type == MYSQL_TYPE_TINY:
        return struct.pack("<b", int(v))
    if col_type == MYSQL_TYPE_SHORT:
        return struct.pack("<h", int(v))
    if col_type == MYSQL_TYPE_INT24:
        return int(v).to_bytes(3, "little", signed=True)
    if col_type == MYSQL_TYPE_LONG:
        return struct.pack("<i", int(v))
    if col_type == MYSQL_TYPE_LONGLONG:
        return struct.pack("<q", int(v))
    if col_type == MYSQL_TYPE_FLOAT:
        return struct.pack("<f", float(v))
    if col_type == MYSQL_TYPE_DOUBLE:
        return struct.pack("<d", float(v))
    if col_type == MYSQL_TYPE_DATETIME2:
        return encode_datetime2(int(v), fsp=meta)
    if col_type == MYSQL_TYPE_TIMESTAMP2:
        return encode_timestamp2(int(v), fsp=meta)
    if col_type == MYSQL_TYPE_TIME2:
        return encode_time2(str(v), fsp=meta)
    if col_type == MYSQL_TYPE_DATE:
        return encode_date(str(v))
    if col_type == MYSQL_TYPE_YEAR:
        return bytes([int(v) - 1900])
    if col_type in (MYSQL_TYPE_VARCHAR, MYSQL_TYPE_VAR_STRING):
        b = v.encode("utf-8") if isinstance(v, str) else bytes(v)
        if meta < 256:
            if len(b) > 255:
                raise BinlogError("varchar value exceeds 1-byte length")
            return bytes([len(b)]) + b
        return len(b).to_bytes(2, "little") + b
    if col_type == MYSQL_TYPE_BLOB:
        b = v.encode("utf-8") if isinstance(v, str) else bytes(v)
        return len(b).to_bytes(meta, "little") + b
    if col_type == MYSQL_TYPE_JSON:
        # JSON columns ride the wire as length-prefixed JSONB binary
        # (reference handle_json mysql_object.rs:54-67 decodes them)
        b = jsonb_encode(v)
        return len(b).to_bytes(meta, "little") + b
    if col_type == MYSQL_TYPE_NEWDECIMAL:
        return encode_newdecimal(str(v), meta >> 8, meta & 0xFF)
    if col_type == MYSQL_TYPE_STRING:
        real_type = (meta >> 16) or MYSQL_TYPE_STRING
        length = meta & 0xFFFF
        if real_type == MYSQL_TYPE_ENUM:
            return int(v).to_bytes(length, "little")  # 1-based index
        if real_type == MYSQL_TYPE_SET:
            return int(v).to_bytes(length, "little")  # member bitmask
        b = v.encode("utf-8") if isinstance(v, str) else bytes(v)
        if length > 255:
            return len(b).to_bytes(2, "little") + b
        if len(b) > 255:
            raise BinlogError("char value exceeds 1-byte length")
        return bytes([len(b)]) + b
    raise BinlogError(f"unsupported column type {col_type} in encoder")


# precompiled layouts: struct.Struct.unpack_from skips the per-call
# format parse/lookup — this is the hottest loop in segment decode
_S_I8 = struct.Struct("<b")
_S_I16 = struct.Struct("<h")
_S_I32 = struct.Struct("<i")
_S_I64 = struct.Struct("<q")
_S_F32 = struct.Struct("<f")
_S_F64 = struct.Struct("<d")


def decode_value(col_type: int, meta: int, buf: bytes, off: int) -> tuple[Any, int]:
    # dispatch ordered by hot-loop frequency for CDC rows: ints/doubles,
    # then temporal, then varlen
    if col_type == MYSQL_TYPE_LONGLONG:
        return _S_I64.unpack_from(buf, off)[0], off + 8
    if col_type == MYSQL_TYPE_DOUBLE:
        return _S_F64.unpack_from(buf, off)[0], off + 8
    if col_type == MYSQL_TYPE_DATETIME2:
        return decode_datetime2(buf, off, fsp=meta)
    if col_type == MYSQL_TYPE_TIMESTAMP2:
        return decode_timestamp2(buf, off, fsp=meta)
    if col_type == MYSQL_TYPE_TIME2:
        return decode_time2(buf, off, fsp=meta)
    if col_type == MYSQL_TYPE_DATE:
        return decode_date(buf, off)
    if col_type == MYSQL_TYPE_YEAR:
        return 1900 + buf[off], off + 1
    if col_type in (MYSQL_TYPE_VARCHAR, MYSQL_TYPE_VAR_STRING):
        if meta < 256:
            n = buf[off]
            off += 1
        else:
            n = int.from_bytes(buf[off : off + 2], "little")
            off += 2
        if off + n > len(buf):
            raise BinlogError("varchar value overruns event")
        return buf[off : off + n].decode("utf-8"), off + n
    if col_type == MYSQL_TYPE_JSON:
        n = int.from_bytes(buf[off : off + meta], "little")
        off += meta
        if off + n > len(buf):
            raise BinlogError("json value overruns event")
        return jsonb_decode(buf[off : off + n]), off + n
    if col_type == MYSQL_TYPE_LONG:
        return _S_I32.unpack_from(buf, off)[0], off + 4
    if col_type == MYSQL_TYPE_TINY:
        return _S_I8.unpack_from(buf, off)[0], off + 1
    if col_type == MYSQL_TYPE_SHORT:
        return _S_I16.unpack_from(buf, off)[0], off + 2
    if col_type == MYSQL_TYPE_INT24:
        return int.from_bytes(buf[off : off + 3], "little", signed=True), off + 3
    if col_type == MYSQL_TYPE_FLOAT:
        return _S_F32.unpack_from(buf, off)[0], off + 4
    if col_type == MYSQL_TYPE_BLOB:
        n = int.from_bytes(buf[off : off + meta], "little")
        off += meta
        if off + n > len(buf):
            raise BinlogError("blob value overruns event")
        return buf[off : off + n].decode("utf-8", "replace"), off + n
    if col_type == MYSQL_TYPE_NEWDECIMAL:
        # decimals decode to STRINGS — precision survives JSON (the
        # reference's ColumnValue::Decimal(s) + decimal-as-string rule,
        # functions/typerules.py)
        return decode_newdecimal(buf, off, meta >> 8, meta & 0xFF)
    if col_type == MYSQL_TYPE_STRING:
        real_type = (meta >> 16) or MYSQL_TYPE_STRING
        length = meta & 0xFFFF
        if real_type in (MYSQL_TYPE_ENUM, MYSQL_TYPE_SET):
            # ENUM: 1-based index; SET: member bitmask — both surface as
            # ints (reference ColumnValue::Enum/Set → json!(v))
            if off + length > len(buf):
                raise BinlogError("enum/set value truncated")
            return int.from_bytes(buf[off : off + length], "little"), off + length
        if length > 255:
            n = int.from_bytes(buf[off : off + 2], "little")
            off += 2
        else:
            n = buf[off]
            off += 1
        if off + n > len(buf):
            raise BinlogError("char value overruns event")
        return buf[off : off + n].decode("utf-8"), off + n
    raise BinlogError(f"unsupported column type {col_type} in decoder")


def _compile_decoder(col_type: int, meta: int):
    """One column's decoder as a specialized closure ``f(buf, off) ->
    (value, next_off)`` — the per-value work of :func:`decode_value`
    with the type dispatch, metadata unpacking and length-mode
    branches resolved ONCE at TABLE_MAP time instead of per value
    (guide §4.2/§4.5: row decode is the hot loop; a CDC task decodes
    millions of values against a handful of schemas). Byte-for-byte
    the same values as decode_value — pinned by
    test_binlog_compiled_decoders."""
    if col_type == MYSQL_TYPE_LONGLONG:
        u = _S_I64.unpack_from
        return lambda buf, off: (u(buf, off)[0], off + 8)
    if col_type == MYSQL_TYPE_DOUBLE:
        u = _S_F64.unpack_from
        return lambda buf, off: (u(buf, off)[0], off + 8)
    if col_type == MYSQL_TYPE_LONG:
        u = _S_I32.unpack_from
        return lambda buf, off: (u(buf, off)[0], off + 4)
    if col_type == MYSQL_TYPE_TINY:
        u = _S_I8.unpack_from
        return lambda buf, off: (u(buf, off)[0], off + 1)
    if col_type == MYSQL_TYPE_SHORT:
        u = _S_I16.unpack_from
        return lambda buf, off: (u(buf, off)[0], off + 2)
    if col_type == MYSQL_TYPE_FLOAT:
        u = _S_F32.unpack_from
        return lambda buf, off: (u(buf, off)[0], off + 4)
    if col_type == MYSQL_TYPE_DATETIME2:
        return lambda buf, off, f=meta: decode_datetime2(buf, off, f)
    if col_type == MYSQL_TYPE_TIMESTAMP2:
        return lambda buf, off, f=meta: decode_timestamp2(buf, off, f)
    if col_type == MYSQL_TYPE_TIME2:
        return lambda buf, off, f=meta: decode_time2(buf, off, f)
    if col_type == MYSQL_TYPE_NEWDECIMAL:
        return lambda buf, off, pr=meta >> 8, sc=meta & 0xFF: decode_newdecimal(
            buf, off, pr, sc
        )
    if col_type in (MYSQL_TYPE_VARCHAR, MYSQL_TYPE_VAR_STRING):
        if meta < 256:

            def _varchar1(buf, off):
                n = buf[off]
                off += 1
                if off + n > len(buf):
                    raise BinlogError("varchar value overruns event")
                return buf[off : off + n].decode("utf-8"), off + n

            return _varchar1

        def _varchar2(buf, off):
            n = int.from_bytes(buf[off : off + 2], "little")
            off += 2
            if off + n > len(buf):
                raise BinlogError("varchar value overruns event")
            return buf[off : off + n].decode("utf-8"), off + n

        return _varchar2
    # everything else (JSON, BLOB, DATE, YEAR, STRING/ENUM/SET, …):
    # off the hot path for CDC rows — keep the canonical dispatch
    return lambda buf, off, t=col_type, m=meta: decode_value(t, m, buf, off)


#: compiled per-column decoders keyed by the table's (types, metas)
#: signature — schemas are few, TABLE_MAP events are per-transaction
#: (bounded so a pathological schema-churn stream cannot grow it
#: unboundedly; on overflow decoders are still built, just not kept)
_DECODER_CACHE: dict[tuple[bytes, tuple[int, ...]], list] = {}
_DECODER_CACHE_MAX = 4096

#: parsed TABLE_MAP schema dicts keyed by the event payload bytes —
#: the server re-announces the same table map once per transaction,
#: byte-identically; same bound as the decoder cache. Every entry is
#: shared by all segments and events that announce the same payload, so
#: its sequences are tuples: no consumer can change a later decode.
_TM_PAYLOAD_CACHE: dict[bytes, tuple[int, dict]] = {}


def _decoders_for(col_types: list[int], col_metas: list[int]) -> list:
    key = (bytes(col_types), tuple(col_metas))
    dec = _DECODER_CACHE.get(key)
    if dec is None:
        dec = [_compile_decoder(t, m) for t, m in zip(col_types, col_metas)]
        if len(_DECODER_CACHE) < _DECODER_CACHE_MAX:
            _DECODER_CACHE[key] = dec
    return dec


def unpack_string_meta(b0: int, b1: int) -> tuple[int, int]:
    """The infamous MYSQL_TYPE_STRING metadata packing: CHAR, ENUM and
    SET all arrive as type 254 in the column-type array, with the REAL
    type in metadata byte0 and — for CHAR columns longer than 255
    bytes — two length bits smuggled into byte0's 0x30 field
    (inverted). Returns (real_type, length/storage-size)."""
    if b0 in (MYSQL_TYPE_ENUM, MYSQL_TYPE_SET):
        return b0, b1  # b1 = storage size in bytes (1 or 2 / 1..8)
    if (b0 & 0x30) != 0x30:
        # long CHAR: the two high length bits live in ~(b0 & 0x30)
        return b0 | 0x30, b1 | (((b0 & 0x30) ^ 0x30) << 4)
    return b0, b1


def _meta_bytes(col_type: int, meta: int) -> bytes:
    """TABLE_MAP per-column metadata encoding (public layout)."""
    if col_type in (MYSQL_TYPE_VARCHAR, MYSQL_TYPE_VAR_STRING):
        return meta.to_bytes(2, "little")
    if col_type == MYSQL_TYPE_STRING:
        # meta = (real_type << 16) | length; emit the packed 2-byte form
        real_type = (meta >> 16) or MYSQL_TYPE_STRING
        length = meta & 0xFFFF
        if real_type in (MYSQL_TYPE_ENUM, MYSQL_TYPE_SET):
            return bytes([real_type, length])
        if length > 255:
            b0 = (real_type & ~0x30) | ((((length >> 8) & 3) ^ 3) << 4)
            return bytes([b0, length & 0xFF])
        return bytes([real_type, length])
    if col_type in (
        MYSQL_TYPE_BLOB, MYSQL_TYPE_JSON, MYSQL_TYPE_DOUBLE, MYSQL_TYPE_FLOAT,
        MYSQL_TYPE_DATETIME2, MYSQL_TYPE_TIMESTAMP2, MYSQL_TYPE_TIME2,
    ):
        return bytes([meta])
    if col_type == MYSQL_TYPE_NEWDECIMAL:
        return bytes([meta >> 8, meta & 0xFF])  # (precision, scale)
    return b""


def _read_meta(col_type: int, buf: bytes, off: int) -> tuple[int, int]:
    if col_type in (MYSQL_TYPE_VARCHAR, MYSQL_TYPE_VAR_STRING):
        return int.from_bytes(buf[off : off + 2], "little"), off + 2
    if col_type == MYSQL_TYPE_STRING:
        real_type, length = unpack_string_meta(buf[off], buf[off + 1])
        return (real_type << 16) | length, off + 2
    if col_type in (
        MYSQL_TYPE_BLOB, MYSQL_TYPE_JSON, MYSQL_TYPE_DOUBLE, MYSQL_TYPE_FLOAT,
        MYSQL_TYPE_DATETIME2, MYSQL_TYPE_TIMESTAMP2, MYSQL_TYPE_TIME2,
    ):
        return buf[off], off + 1
    if col_type == MYSQL_TYPE_NEWDECIMAL:
        return (buf[off] << 8) | buf[off + 1], off + 2
    return 0, off


# ------------------------------------------------------------------
# event framing
# ------------------------------------------------------------------


class SegmentWriter:
    """Accumulates events with real running ``log_pos`` offsets and
    CRC32 checksums, starting from the binlog magic."""

    def __init__(self, server_id: int):
        self.server_id = server_id
        self.buf = bytearray(MAGIC)

    def append(self, type_code: int, payload: bytes, *, ts: int = 0, flags: int = 0) -> None:
        event_size = HEADER_LEN + len(payload) + CRC_LEN
        log_pos = len(self.buf) + event_size
        header = struct.pack(
            "<IBIIIH", ts & 0xFFFFFFFF, type_code, self.server_id, event_size,
            log_pos & 0xFFFFFFFF, flags,
        )
        body = header + payload
        self.buf += body + (zlib.crc32(body) & 0xFFFFFFFF).to_bytes(4, "little")

    def bytes(self) -> bytes:
        return bytes(self.buf)


def fde_payload(server_version: str = "8.0.99-deltaforge-spark") -> bytes:
    """FORMAT_DESCRIPTION: u16 binlog version (4), 50-byte NUL-padded
    server version, u32 create ts, u8 common header length, post-header
    length per event type, then the checksum algorithm byte (1=CRC32)."""
    sv = server_version.encode()[:50]
    return (
        struct.pack("<H", 4)
        + sv + b"\x00" * (50 - len(sv))
        + struct.pack("<I", 0)
        + bytes([HEADER_LEN])
        + bytes(FDE_EVENT_TYPES)
        + b"\x01"
    )


def table_map_payload(
    table_id: int,
    db: str,
    table: str,
    col_types: list[int],
    col_metas: list[int],
    nullable: list[bool],
) -> bytes:
    out = bytearray(table_id.to_bytes(6, "little"))
    out += struct.pack("<H", 1)  # flags
    dbb, tbb = db.encode(), table.encode()
    out += bytes([len(dbb)]) + dbb + b"\x00"
    out += bytes([len(tbb)]) + tbb + b"\x00"
    out += encode_lenenc(len(col_types))
    out += bytes(col_types)
    meta = b"".join(_meta_bytes(t, m) for t, m in zip(col_types, col_metas))
    out += encode_lenenc(len(meta)) + meta
    out += _bitmap_of(nullable)
    return bytes(out)


def rows_payload(
    table_id: int,
    n_cols: int,
    images: list[list[Any]],
    col_types: list[int],
    col_metas: list[int],
    *,
    update: bool = False,
    present_cols: list[bool] | None = None,
    present_cols2: list[bool] | None = None,
) -> bytes:
    """ROWS_EVENT v2 body. ``images`` is a flat list of row images (for
    update events: before, after, before, after, ...). Defaults to all
    columns present (full row images — binlog_row_image=FULL). Pass
    ``present_cols`` (before/only image) and ``present_cols2`` (update
    after-image) to emit MINIMAL/NOBLOB-style partial images: the null
    bitmap then covers present columns only, and entries of absent
    columns in ``images`` are ignored."""
    present1 = [True] * n_cols if present_cols is None else list(present_cols)
    present2 = present1 if present_cols2 is None else list(present_cols2)
    out = bytearray(table_id.to_bytes(6, "little"))
    out += struct.pack("<H", 0)  # flags
    out += struct.pack("<H", 2)  # extra-data length (2 = none)
    out += encode_lenenc(n_cols)
    out += _bitmap_of(present1)
    if update:
        out += _bitmap_of(present2)
    for idx, image in enumerate(images):
        pl = present2 if (update and idx % 2 == 1) else present1
        vals = [v for i, v in enumerate(image) if pl[i]]
        nulls = _bitmap_of([v is None for v in vals])
        out += nulls
        for i, v in enumerate(image):
            if pl[i] and v is not None:
                out += encode_value(col_types[i], col_metas[i], v)
    return bytes(out)


def gtid_payload(sid: bytes, gno: int) -> bytes:
    if len(sid) != 16:
        raise BinlogError("gtid sid must be 16 bytes")
    return b"\x01" + sid + struct.pack("<q", gno)


def xid_payload(xid: int) -> bytes:
    return struct.pack("<Q", xid)


def query_payload(schema: str, sql: str) -> bytes:
    sb, qb = schema.encode(), sql.encode()
    return (
        struct.pack("<IIBHH", 0, 0, len(sb), 0, 0)  # thread, exec, db_len, err, status_len
        + sb + b"\x00" + qb
    )


def rotate_payload(position: int, next_name: str) -> bytes:
    return struct.pack("<Q", position) + next_name.encode()


# ------------------------------------------------------------------
# strict segment parser
# ------------------------------------------------------------------


def parse_segment(
    data: bytes,
    columns_by_table: dict[tuple[str, str], list[str]] | None = None,
) -> list[dict[str, Any]]:
    """Parse one self-contained binlog segment into a list of decoded
    events: :class:`BinlogTailer` fed the whole segment once, plus an
    end check. The tailer is the only binlog framer, so a segment
    decodes the same whether it arrives whole or in slices; its checks
    (magic, per-event CRC32, ``log_pos`` continuity, a size floor) make
    any corruption a ``BinlogError``. The end check adds what a live
    tail cannot know: input shorter than the magic and a truncated
    last event are errors too, never a silent partial decode.

    Row events yield ``rows`` entries with positional values; when
    ``columns_by_table`` has an entry for (db, table), values are
    emitted as name→value dicts instead.
    """
    if len(data) < len(MAGIC):
        raise BinlogError("bad binlog magic")
    tailer = BinlogTailer(columns_by_table)
    events = tailer.feed(data)
    left = tailer._n_held
    if left:
        part = "header" if left < HEADER_LEN else "body"
        raise BinlogError(f"event {part} truncated at offset {tailer._offset}")
    return events


def _decode_one(
    type_code: int,
    payload: bytes,
    common: dict[str, Any],
    table_map: dict[int, dict[str, Any]],
    current_gtid: tuple[str, int] | None,
    pending_rows: list[dict[str, Any]],
    columns_by_table: dict[tuple[str, str], list[str]] | None,
    err_offset: int,
) -> tuple[dict[str, Any], tuple[str, int] | None]:
    """Decode ONE framed event payload against the sequential decode
    state (table_map, current GTID, open-transaction rows) that
    :meth:`BinlogTailer.feed` threads across arbitrary read boundaries
    (reference mysql/mod.rs:386-423 keeps the same fields on its
    connection loop)."""
    # any exception past the CRC gate is a framing bug inside a
    # checksum-valid event — surface it AS BinlogError so callers
    # (and on_error='route') have one loud, catchable contract
    try:

        if type_code == FORMAT_DESCRIPTION_EVENT:
            binlog_version = struct.unpack_from("<H", payload, 0)[0]
            if binlog_version != 4:
                raise BinlogError(f"unsupported binlog version {binlog_version}")
            server_version = payload[2:52].split(b"\x00", 1)[0].decode()
            ev = {**common, "kind": "fde", "server_version": server_version}
        elif type_code == TABLE_MAP_EVENT:
            # TABLE_MAP repeats byte-identically once per transaction
            # per table (the server re-announces before every rows
            # event group) — parse each distinct payload once and reuse
            # the schema dict + compiled decoders (guide §4.5: amortize
            # per-task setup; measured ~560 identical re-parses per
            # bench segment).
            cached = _TM_PAYLOAD_CACHE.get(payload)
            if cached is None:
                table_id = int.from_bytes(payload[0:6], "little")
                p = 8  # skip flags
                db_len = payload[p]
                db = payload[p + 1 : p + 1 + db_len].decode()
                p += 1 + db_len + 1
                tb_len = payload[p]
                table = payload[p + 1 : p + 1 + tb_len].decode()
                p += 1 + tb_len + 1
                n_cols, p = read_lenenc(payload, p)
                col_types = tuple(payload[p : p + n_cols])
                p += n_cols
                meta_len, p = read_lenenc(payload, p)
                metas = []
                mp = p
                for t in col_types:
                    m, mp = _read_meta(t, payload, mp)
                    metas.append(m)
                if mp - p != meta_len:
                    raise BinlogError("table map metadata length mismatch")
                p = mp
                nullable = tuple(_bitmap_get(payload[p:], i) for i in range(n_cols))
                cached = (
                    table_id,
                    {
                        "db": db, "table": table, "col_types": col_types,
                        "col_metas": tuple(metas), "nullable": nullable,
                        "decoders": _decoders_for(col_types, metas),
                    },
                )
                if len(_TM_PAYLOAD_CACHE) < _DECODER_CACHE_MAX:
                    _TM_PAYLOAD_CACHE[payload] = cached
            table_id, tm_entry = cached
            table_map[table_id] = tm_entry
            ev = {**common, "kind": "table_map", "table_id": table_id,
                  "db": tm_entry["db"], "table": tm_entry["table"],
                  "col_types": tm_entry["col_types"]}
        elif type_code in (WRITE_ROWS_EVENT, UPDATE_ROWS_EVENT, DELETE_ROWS_EVENT):
            table_id = int.from_bytes(payload[0:6], "little")
            tm = table_map.get(table_id)
            if tm is None:
                raise BinlogError(f"rows event for unmapped table_id {table_id}")
            p = 8  # table_id + flags
            extra_len = struct.unpack_from("<H", payload, p)[0]
            p += extra_len  # includes its own 2 bytes
            n_cols, p = read_lenenc(payload, p)
            # a ROWS event whose column count disagrees with its
            # TABLE_MAP is a framing bug — silently decoding zero rows
            # here would lose data (the loud-decode contract)
            if n_cols != len(tm["col_types"]):
                raise BinlogError(
                    f"rows event claims {n_cols} columns, TABLE_MAP for "
                    f"{tm['db']}.{tm['table']} has {len(tm['col_types'])}"
                )
            bitmap_len = (n_cols + 7) // 8
            bitmaps = bitmap_len * (2 if type_code == UPDATE_ROWS_EVENT else 1)
            if p + bitmaps > len(payload):
                raise BinlogError("rows event truncated in columns-present bitmap")
            present1 = payload[p : p + bitmap_len]
            p += bitmap_len
            present2 = present1
            if type_code == UPDATE_ROWS_EVENT:
                # the after-image has its OWN present bitmap; with
                # binlog_row_image=MINIMAL/NOBLOB it differs from
                # present1, and decoding the after image against
                # present1 drifts the offset silently (fixed-width
                # columns can re-align and yield WRONG values with no
                # error) — decode each image against its own bitmap
                present2 = payload[p : p + bitmap_len]
                p += bitmap_len
            rows = []
            while p < len(payload):
                image, p = _read_image(payload, p, tm, present1, n_cols)
                if type_code == UPDATE_ROWS_EVENT:
                    after, p = _read_image(payload, p, tm, present2, n_cols)
                    rows.append({"before": image, "after": after})
                elif type_code == WRITE_ROWS_EVENT:
                    rows.append({"before": None, "after": image})
                else:
                    rows.append({"before": image, "after": None})
            op = {WRITE_ROWS_EVENT: "c", UPDATE_ROWS_EVENT: "u", DELETE_ROWS_EVENT: "d"}[type_code]
            names = (columns_by_table or {}).get((tm["db"], tm["table"]))
            if names is not None:
                if len(names) != n_cols:
                    raise BinlogError(
                        f"schema for {tm['db']}.{tm['table']} has {len(names)} "
                        f"columns, binlog has {n_cols}"
                    )
                for r in rows:
                    for side in ("before", "after"):
                        if r[side] is not None:
                            r[side] = dict(zip(names, r[side]))
            ev = {**common, "kind": "rows", "op": op, "db": tm["db"],
                  "table": tm["table"], "rows": rows, "gtid": current_gtid}
            pending_rows.append(ev)
        elif type_code == GTID_LOG_EVENT:
            sid = payload[1:17]
            gno = struct.unpack_from("<q", payload, 17)[0]
            current_gtid = (sid.hex(), gno)
            ev = {**common, "kind": "gtid", "sid": sid.hex(), "gno": gno}
        elif type_code == XID_EVENT:
            xid = struct.unpack_from("<Q", payload, 0)[0]
            for ev in pending_rows:
                ev["xid"] = xid
            # clear IN PLACE: the list is caller-owned sequential state
            # (rebinding here would silently orphan the tx bracket)
            pending_rows.clear()
            ev = {**common, "kind": "xid", "xid": xid}
        elif type_code == QUERY_EVENT:
            thread_id, exec_time, db_len, err, status_len = struct.unpack_from(
                "<IIBHH", payload, 0
            )
            p = 13 + status_len
            schema = payload[p : p + db_len].decode()
            p += db_len + 1
            sql = payload[p:].decode()
            ev = {**common, "kind": "query", "schema": schema, "sql": sql}
        elif type_code == ROTATE_EVENT:
            position = struct.unpack_from("<Q", payload, 0)[0]
            next_name = payload[8:].decode()
            ev = {**common, "kind": "rotate", "position": position,
                  "next_file": next_name}
        else:
            ev = {**common, "kind": "other", "type_code": type_code}
    except BinlogError:
        raise
    except (struct.error, IndexError, UnicodeDecodeError, ValueError) as e:
        raise BinlogError(
            f"malformed event (type {type_code}) at offset "
            f"{err_offset}: {type(e).__name__}: {e}"
        ) from e
    return ev, current_gtid


class BinlogTailer:
    """Incremental binlog tail over an arbitrary-boundary byte feed —
    the package's only binlog framer: ``parse_segment`` is this class
    fed a whole segment once, and a live socket client feeds it frame
    by frame (reference
    mysql/mod.rs:386-423: the connection loop reads frames as they
    arrive, threading table_map/GTID/transaction state across reads;
    this class is that loop with the socket abstracted to ``feed``).

    - ``feed(chunk)`` accepts ANY byte slicing of the stream (single
      bytes, mid-header cuts, multi-event blobs) and returns the
      events completed by that chunk; any slicing yields the same
      events as ``parse_segment`` on the concatenation.
    - Framing is strict: magic, per-event CRC32, an event-size floor,
      log_pos continuity — a corrupt frame raises immediately.
    - ``checkpoint()`` is the resumable position: binlog file, last
      COMMITTED log_pos (XID boundary — resuming mid-transaction
      would replay a torn prefix), and the accumulated executed-GTID
      set (``BinlogPosition`` is the RunCtx analog).
    - A ROTATE event arms the next file: the following bytes must
      begin with the 4-byte magic again, and log_pos restarts.
    """

    def __init__(
        self,
        columns_by_table: dict[tuple[str, str], list[str]] | None = None,
        *,
        file: str = "",
        mode: str = "file",
    ) -> None:
        from .gtid import BinlogPosition

        if mode not in ("file", "stream"):
            raise ValueError(f"mode must be file|stream, got {mode!r}")
        self._columns = columns_by_table
        # unframed input: chunks held until the pending frame can complete
        self._held: list[bytes] = []
        self._n_held = 0
        self._need = 0
        self._mode = mode
        # a COM_BINLOG_DUMP network stream carries NO 4-byte magic and
        # its log_pos fields are server-file positions (artificial
        # events such as the initial fake ROTATE carry log_pos=0), so
        # stream mode trusts non-zero log_pos instead of checking
        # byte-offset continuity; file mode keeps the strict chain
        self._need_magic = mode == "file"
        self._offset = 0
        self._table_map: dict[int, dict[str, Any]] = {}
        self._gtid: tuple[str, int] | None = None
        self._pending: list[dict[str, Any]] = []
        self.position = BinlogPosition(file=file)

    def feed(self, chunk: bytes) -> list[dict[str, Any]]:
        # frame in place over one bytes object: a segment fed whole is
        # sliced, never copied. Input short of the pending frame is only
        # held, so a large event fed in small slices is joined once
        chunk = bytes(chunk)
        self._held.append(chunk)
        self._n_held += len(chunk)
        if self._n_held < self._need:
            return []
        data = b"".join(self._held)
        off, end = 0, len(data)
        events: list[dict[str, Any]] = []
        while True:
            if self._need_magic:
                if end - off < len(MAGIC):
                    self._need = len(MAGIC)
                    break
                if data[off : off + len(MAGIC)] != MAGIC:
                    raise BinlogError("bad binlog magic")
                off += len(MAGIC)
                self._offset = len(MAGIC)
                self._need_magic = False
            if end - off < HEADER_LEN:
                self._need = HEADER_LEN
                break
            ts, type_code, server_id, event_size, log_pos, flags = struct.unpack_from(
                "<IBIIIH", data, off
            )
            if event_size < HEADER_LEN + CRC_LEN:
                raise BinlogError(f"event size {event_size} below header+crc")
            if end - off < event_size:
                self._need = event_size  # incomplete frame: wait for more
                break
            if self._mode == "file" and log_pos != self._offset + event_size:
                raise BinlogError(
                    f"log_pos drift: header says {log_pos}, "
                    f"actual {self._offset + event_size}"
                )
            crc_at = off + event_size - CRC_LEN
            crc_stored = int.from_bytes(data[crc_at : crc_at + CRC_LEN], "little")
            if zlib.crc32(data[off:crc_at]) != crc_stored:
                raise BinlogError(f"crc mismatch at offset {self._offset}")
            payload = data[off + HEADER_LEN : crc_at]
            err_offset = self._offset
            off += event_size
            if self._mode == "stream" and log_pos:
                self._offset = log_pos  # trust server positions on the wire
            else:
                self._offset += event_size

            common = {"ts_sec": ts, "server_id": server_id, "log_pos": log_pos}
            ev, self._gtid = _decode_one(
                type_code, payload, common, self._table_map, self._gtid,
                self._pending, self._columns, err_offset,
            )
            events.append(ev)
            if type_code == GTID_LOG_EVENT:
                self.position.handle_gtid(f"{ev['sid']}:{ev['gno']}")
            elif type_code == XID_EVENT:
                # commit boundary: the position becomes resumable here
                self.position.handle_xid()
                self.position.pos = log_pos
            elif type_code == ROTATE_EVENT:
                self.position.handle_rotate(ev["next_file"], ev["position"])
                # per-file sequential state resets, GTID set persists.
                # FILE mode: the next file begins with its own 4-byte
                # magic + log_pos chain. STREAM mode: a dump stream
                # carries NO magic between files — the next event
                # follows directly (arming magic here would reject it)
                self._table_map = {}
                if self._mode == "file":
                    self._need_magic = True
                else:
                    self._offset = ev["position"] or 0
        rest = data[off:]
        self._held = [rest] if rest else []
        self._n_held = len(rest)
        return events

    def checkpoint(self) -> str:
        """JSON resumable position (file, committed pos, gtid set)."""
        return self.position.to_json()


MAX_PACKET = 0xFFFFFF  # 16 MiB − 1: payloads this long continue in the next packet


class MysqlPacketStream:
    """MySQL client/server protocol packet de-framing for the binlog
    dump stream — the transport layer between the socket and
    ``BinlogTailer`` (public wire format: every packet is a 3-byte
    little-endian payload length + 1-byte sequence id; after
    COM_BINLOG_DUMP each event arrives in a packet whose payload leads
    with an 0x00 OK marker; 0xFF opens an ERR packet (error code +
    '#'+sqlstate + message), 0xFE with a short payload is EOF; a
    payload of exactly 0xFFFFFF bytes continues in the following
    packet). The reference gets this from its client library
    (mysql_async inside mysql/mod.rs:113-382); here it is explicit so
    the whole path below the TCP socket is testable byte-for-byte.

    ``feed(chunk)`` accepts arbitrary byte slicings and returns the
    COMPLETE event frames (OK marker stripped, 16 MiB continuations
    reassembled) ready for ``BinlogTailer(mode='stream').feed``.
    Sequence ids must increment mod 256 — a gap means lost packets and
    raises rather than desyncing silently.
    """

    def __init__(self) -> None:
        self._buf = bytearray()
        self._partial: bytearray | None = None  # continuation accumulator
        self._expect_seq: int | None = None
        self.eof = False

    def feed(self, chunk: bytes) -> list[bytes]:
        if self.eof:
            raise BinlogError("packet stream already saw EOF")
        self._buf += chunk
        frames: list[bytes] = []
        while len(self._buf) >= 4:
            plen = int.from_bytes(self._buf[0:3], "little")
            seq = self._buf[3]
            if len(self._buf) < 4 + plen:
                break
            if self._expect_seq is not None and seq != self._expect_seq:
                raise BinlogError(
                    f"packet sequence gap: expected {self._expect_seq}, got {seq}"
                )
            self._expect_seq = (seq + 1) % 256
            payload = bytes(self._buf[4 : 4 + plen])
            del self._buf[: 4 + plen]

            if self._partial is not None:
                # continuation of an oversized payload (no marker byte)
                self._partial += payload
                if plen == MAX_PACKET:
                    continue
                frames.append(bytes(self._partial))
                self._partial = None
                continue

            if not payload:
                raise BinlogError("empty packet payload")
            marker = payload[0]
            if marker == 0xFF:
                code = int.from_bytes(payload[1:3], "little")
                rest = payload[3:]
                if rest[:1] == b"#":
                    state, msg = rest[1:6].decode(), rest[6:].decode(errors="replace")
                else:
                    state, msg = "", rest.decode(errors="replace")
                raise BinlogError(f"server error {code} [{state}]: {msg}")
            if marker == 0xFE and plen < 9:
                self.eof = True
                return frames
            if marker != 0x00:
                raise BinlogError(f"unexpected packet marker 0x{marker:02x}")
            body = payload[1:]
            if plen == MAX_PACKET:
                self._partial = bytearray(body)
                continue
            frames.append(body)
        return frames


def _read_image(
    payload: bytes, p: int, tm: dict[str, Any], present: bytes, n_cols: int
) -> tuple[list[Any], int]:
    # the null bitmap covers only columns PRESENT in this image (its
    # length and bit ordinals count present columns, not table columns) —
    # with binlog_row_image=FULL they coincide, with MINIMAL they don't.
    # Mask the bitmap to n_cols bits and popcount in C (int.bit_count) —
    # constant per-row cost, no per-row Python loop and no memo-dict
    # (the r5 (bytes, int)-keyed cache paid a tuple alloc + hash per row)
    n_present = (
        int.from_bytes(present, "little") & ((1 << n_cols) - 1)
    ).bit_count()
    null_len = (n_present + 7) // 8
    if p + null_len > len(payload):
        raise BinlogError("row image truncated in null bitmap")
    nulls = payload[p : p + null_len]
    p += null_len
    image: list[Any] = []
    append = image.append
    # per-column decoders compiled once per schema (dispatch, metadata
    # and length-mode branches hoisted out of the per-value loop);
    # hand-built table maps (tailer restore paths, tools) compile lazily
    dec = tm.get("decoders")
    if dec is None:
        dec = tm["decoders"] = _decoders_for(tm["col_types"], tm["col_metas"])
    if n_present == n_cols:
        # binlog_row_image=FULL (the overwhelmingly common case, and the
        # reference's documented requirement): present ordinals == table
        # ordinals, skip the per-column present-bit test entirely
        for i in range(n_cols):
            if (nulls[i >> 3] >> (i & 7)) & 1:
                append(None)
                continue
            v, p = dec[i](payload, p)
            append(v)
        return image, p
    j = 0  # ordinal among present columns (null-bitmap index space)
    for i in range(n_cols):
        # inlined bitmap reads (function-call per column is measurable
        # at millions of values per task)
        if not (present[i >> 3] >> (i & 7)) & 1:
            append(None)
            continue
        if (nulls[j >> 3] >> (j & 7)) & 1:
            append(None)
            j += 1
            continue
        v, p = dec[i](payload, p)
        append(v)
        j += 1
    return image, p


# ------------------------------------------------------------------
# Spark-side distributed decode
# ------------------------------------------------------------------

BINLOG_ROW_SCHEMA = T.StructType(
    [
        T.StructField("ts_sec", T.LongType()),
        T.StructField("server_id", T.LongType()),
        T.StructField("db", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("xid", T.LongType()),
        T.StructField("gtid_sid", T.StringType()),
        T.StructField("gno", T.LongType()),
        T.StructField("log_pos", T.LongType()),
        T.StructField("before", T.StringType()),
        T.StructField("after", T.StringType()),
        # per-segment fingerprint (crc32:length of the raw segment bytes):
        # the event_id fallback discriminator when the stream has no GTIDs —
        # log_pos alone is a per-file offset and collides across segments
        T.StructField("segment", T.StringType()),
        T.StructField("decode_error", T.StringType()),
    ]
)

def _segment_fingerprint(raw: bytes) -> str:
    """``crc32:length`` of a raw segment: the ``segment`` column."""
    return f"{zlib.crc32(raw):08x}:{len(raw)}"


def segment_rows(
    raw: bytes,
    columns_by_table: dict[tuple[str, str], list[str]] | None = None,
) -> Iterator[tuple]:
    """One segment's row images as ``BINLOG_ROW_SCHEMA`` tuples, JSON
    before/after objects and the segment fingerprint included — the one
    event-to-row flattener behind ``decode_binlog_segments`` and the
    ``binlog_segments`` source. The whole segment is parsed before the
    first row is yielded, so a corrupt one raises ``BinlogError`` with
    nothing emitted."""
    events = parse_segment(raw, columns_by_table)
    seg_fp = _segment_fingerprint(raw)
    # no sort_keys: image key order is already deterministic (zip with
    # the schema's column list)
    dumps = json.dumps
    for ev in events:
        if ev["kind"] != "rows":
            continue
        sid, gno = ev["gtid"] if ev["gtid"] else (None, None)
        head = (ev["ts_sec"], ev["server_id"], ev["db"], ev["table"], ev["op"],
                ev.get("xid"), sid, gno, ev["log_pos"])
        for r in ev["rows"]:
            b, a = r["before"], r["after"]
            yield head + (None if b is None else dumps(b),
                          None if a is None else dumps(a), seg_fp, None)


def decode_binlog_segments(
    segments: DataFrame,
    columns_by_table: dict[tuple[str, str], list[str]],
    *,
    data_col: str = "data",
    on_error: str = "fail",
) -> DataFrame:
    """Map-only decode: one task per segment, each fully independent.
    Emits one output row per row image with JSON before/after objects
    (plus a null ``decode_error`` column), via :func:`segment_rows`.

    ``on_error``: a corrupt segment (bad magic/CRC/log_pos/truncation)
    by default FAILS the job — exactly-once posture, nothing skipped
    silently. ``"route"`` instead emits one row per poison segment with
    ``decode_error`` set (all data columns null) so the caller can
    split it to a DLQ and keep draining — the reference's
    poison-payload isolation posture (dlq.rs), at segment granularity.
    A segment is all-or-nothing either way: a CRC failure anywhere in
    it voids the segment (its row events may be framed wrong)."""
    if on_error not in ("fail", "route"):
        raise ValueError(f"on_error must be fail|route, got {on_error!r}")
    sc = segments.sparkSession.sparkContext
    bc = sc.broadcast(columns_by_table)
    names = BINLOG_ROW_SCHEMA.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one frame per segment: a task holds one segment's rows at a
        # time, not every row of its input batch
        cols = bc.value
        for pdf in batches:
            for blob in pdf[data_col]:
                raw = bytes(blob)
                try:
                    out = list(segment_rows(raw, cols))
                except BinlogError as e:
                    if on_error == "fail":
                        raise
                    error = traceback.format_exception_only(e)[-1].strip()
                    out = [(None,) * 11 + (_segment_fingerprint(raw), error)]
                yield pd.DataFrame(out, columns=names)

    return segments.select(data_col).mapInPandas(run, BINLOG_ROW_SCHEMA)


def binlog_change_feed(
    segments: DataFrame,
    columns_by_table: dict[tuple[str, str], list[str]],
    image_schema: T.StructType,
    *,
    pipeline: str = "cdc",
    ts_ms_field: str | None = None,
) -> DataFrame:
    """Wire decode → the canonical CDC envelope: a drop-in front for
    the processor chain (filter/flatten/outbox/envelope — everything
    ``change_feed`` feeds today). This is the full reference flow
    re-expressed: binlog bytes → decoded row events → enveloped stream
    (dispatch_event → build_object → Event::new_row,
    mysql_event.rs:74-428).

    ``image_schema`` types the before/after images (the schema-registry
    role — column names come from ``columns_by_table``, types from
    here). ``ts_ms_field``: image column holding event time in µs
    (→ ts_ms); falls back to the binlog header timestamp (seconds).
    """
    dec = decode_binlog_segments(segments, columns_by_table)
    before = F.from_json(F.col("before"), image_schema)
    after = F.from_json(F.col("after"), image_schema)
    img = F.coalesce(after, before)
    if ts_ms_field:
        ts_ms = F.expr(f"CAST(_img.{ts_ms_field} DIV 1000 AS BIGINT)")
    else:
        ts_ms = (F.col("ts_sec") * F.lit(1000)).cast("long")
    from ..envelope import finish_envelope

    out = dec.withColumn("_img", img).select(
        F.col("op"),
        ts_ms.alias("ts_ms"),
        before.alias("before"),
        F.when(F.col("op") != "d", after).alias("after"),
        F.struct(
            F.lit("mysql").alias("connector"),
            F.lit(pipeline).alias("name"),
            F.col("db").alias("db"),
            F.lit(None).cast("string").alias("schema"),
            F.col("table").alias("table"),
            F.lit(False).alias("snapshot"),
            F.col("log_pos").alias("sequence"),
        ).alias("source"),
        # event_id: GTID-based when available; otherwise segment-scoped.
        # concat_ws silently skips NULLs, so a GTID-less stream would
        # collapse to bare log_pos — a per-FILE offset that collides
        # across segments and breaks downstream idempotence keys. The
        # fallback pins log_pos to its segment fingerprint instead.
        F.when(
            F.col("gtid_sid").isNotNull() & F.col("gno").isNotNull(),
            F.concat_ws(":", F.col("gtid_sid"), F.col("gno").cast("string"),
                        F.col("log_pos").cast("string")),
        ).otherwise(
            F.concat_ws(":", F.lit("seg"), F.col("segment"),
                        F.col("log_pos").cast("string"))
        ).alias("event_id"),
        F.lit(None).cast("string").alias("tenant_id"),
        F.struct(
            F.col("xid").cast("string").alias("id"),
            F.lit(None).cast("long").alias("total_order"),
            F.lit(None).cast("long").alias("data_collection_order"),
        ).alias("transaction"),
        F.lit(None).cast("boolean").alias("tx_end"),
    )
    return finish_envelope(out)


DDL_SCHEMA = T.StructType(
    [
        T.StructField("ts_sec", T.LongType()),
        T.StructField("server_id", T.LongType()),
        T.StructField("log_pos", T.LongType()),
        T.StructField("schema", T.StringType()),
        T.StructField("statement", T.StringType()),
    ]
)


def binlog_query_statements(
    segments: DataFrame, *, data_col: str = "data"
) -> DataFrame:
    """QUERY events from decoded segments, transaction markers
    filtered — the wire front for DDL capture (reference handle_query
    mysql_event.rs: QueryEvent → ddl event + schema reload; downstream
    classification/table extraction = sources/ddl.py ddl_events over
    this frame's ``statement`` column)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for blob in pdf[data_col]:
                for ev in parse_segment(bytes(blob)):
                    if ev["kind"] != "query":
                        continue
                    sql_u = ev["sql"].strip().upper()
                    if sql_u in ("BEGIN", "COMMIT", "ROLLBACK"):
                        continue
                    out.append(
                        (ev["ts_sec"], ev["server_id"], ev["log_pos"],
                         ev["schema"], ev["sql"])
                    )
            yield pd.DataFrame(
                out, columns=["ts_sec", "server_id", "log_pos", "schema", "statement"]
            )

    return segments.select(data_col).mapInPandas(run, DDL_SCHEMA)
