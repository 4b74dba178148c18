"""PostgreSQL ``pgoutput`` logical-replication wire decode — the real
byte format, parsed in Python, distributed with Spark.

Closes the one documented SURVEY §7.2 boundary for the PG side: the
reference parses pgoutput protocol bytes itself (handle_pgoutput_message
crates/sources/src/postgres/postgres_event.rs:166-214, handle_relation
:216-334, parse_tuple_data crates/sources/src/postgres/postgres_object.rs:270-340,
convert_text_value :106-160). This module implements the same message
grammar from the public PostgreSQL protocol documentation ("Logical
Streaming Replication Protocol", message formats chapter) and the same
text-mode value conversion rules, then distributes the decode the way a
Spark engine should:

- **Message decode is map-only** (``mapInPandas`` over a ``binary``
  column): every I/U/D message is self-describing once the relation
  catalog is known — no ordering assumption, no shuffle.
- **Relation catalog ('R' messages) is a control-plane read**: O(#tables)
  rows collected once and broadcast, exactly like the reference's
  ``relation_map`` (postgres_event.rs:27-38) but shared across executors.
- **Transaction stamping is order-free**: the reference tracks
  ``current_tx_id`` sequentially; a distributed decode can't. Instead,
  Begin ('B') carries the commit LSN (``final_lsn``) and Commit ('C')
  carries the same ``commit_lsn`` — pairing them is an equi-join, and
  stamping DML rows with their xid is a bucketized interval join on the
  stream sequence (``operators/rangejoin.interval_join``) — one shuffle,
  never a cartesian, works at any number of transactions.

At 100 TB: WAL bytes land in object storage as (seq, data) pairs (e.g.
Kafka offsets or file-chunk offsets); decode scales linearly with
executors because each message decodes alone. The only global state is
the relation catalog — tiny by construction.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- type OIDs (public pg_type.h values; reference
# postgres_table_schema.rs type_oids) -------------------------------
BOOL = 16
BYTEA = 17
INT8 = 20
INT2 = 21
INT4 = 23
TEXT = 25
OID = 26
JSON = 114
FLOAT4 = 700
FLOAT8 = 701
VARCHAR = 1043
TIMESTAMP = 1114
TIMESTAMPTZ = 1184
NUMERIC = 1700
JSONB = 3802

#: microseconds between 2000-01-01 (PG timestamp epoch) and unix epoch
PG_EPOCH_UNIX_MS = 946_684_800_000

#: sentinel for a TOASTed column the publisher did not re-send
#: (reference PgColumnValue::Unchanged; see operators/toast.py)
UNCHANGED = object()


class PgoutputError(ValueError):
    """Raised on truncated / malformed pgoutput bytes (loud, never a
    silent partial decode — same policy as the PPM codec)."""


# ------------------------------------------------------------------
# byte-level codec (pure Python, spec-exact)
# ------------------------------------------------------------------


def _read_cstring(buf: bytes, off: int) -> tuple[str, int]:
    """NUL-terminated UTF-8 string (reference read_cstring
    postgres_event.rs:781-795 — stops at end if unterminated)."""
    end = buf.find(b"\x00", off)
    if end < 0:
        return buf[off:].decode("utf-8", "replace"), len(buf)
    return buf[off:end].decode("utf-8", "replace"), end + 1


def encode_relation(
    relation_id: int,
    schema: str,
    table: str,
    columns: list[tuple[str, int, int, int]],
    *,
    replica_identity: str = "f",
    stream_xid: int | None = None,
) -> bytes:
    """'R' message: u32 id, cstr namespace, cstr name, identity byte,
    u16 ncols, then per column: u8 flags, cstr name, u32 oid, i32 typmod.
    ``stream_xid``: protocol-v2 streamed form (xid after the tag)."""
    out = bytearray(b"R")
    out += _stream_prefix(stream_xid)
    out += relation_id.to_bytes(4, "big")
    out += schema.encode() + b"\x00"
    out += table.encode() + b"\x00"
    out += replica_identity.encode()
    out += len(columns).to_bytes(2, "big")
    for name, oid, typmod, flags in columns:
        out += bytes([flags])
        out += name.encode() + b"\x00"
        out += oid.to_bytes(4, "big")
        out += (typmod & 0xFFFFFFFF).to_bytes(4, "big")
    return bytes(out)


def encode_tuple(values: list[Any]) -> bytes:
    """TupleData: u16 ncols then per column a marker byte —
    'n' (null), 'u' (unchanged toast), 't' + u32 len + text bytes, or
    'b' + u32 len + raw bytes (binary mode; pass ``bytes`` values)."""
    out = bytearray(len(values).to_bytes(2, "big"))
    for v in values:
        if v is None:
            out += b"n"
        elif v is UNCHANGED:
            out += b"u"
        elif isinstance(v, (bytes, bytearray)):
            out += b"b" + len(v).to_bytes(4, "big") + bytes(v)
        else:
            b = str(v).encode("utf-8")
            out += b"t" + len(b).to_bytes(4, "big") + b
    return bytes(out)


def encode_insert(
    relation_id: int, values: list[Any], *, stream_xid: int | None = None
) -> bytes:
    """``stream_xid``: protocol-v2 streamed form — u32 xid right after
    the tag (only valid inside an S…E block)."""
    return (
        b"I"
        + _stream_prefix(stream_xid)
        + relation_id.to_bytes(4, "big")
        + b"N"
        + encode_tuple(values)
    )


def encode_update(
    relation_id: int,
    new_values: list[Any],
    old_values: list[Any] | None = None,
    *,
    key_only: bool = False,
    stream_xid: int | None = None,
) -> bytes:
    out = bytearray(b"U") + _stream_prefix(stream_xid) + relation_id.to_bytes(4, "big")
    if old_values is not None:
        out += b"K" if key_only else b"O"
        out += encode_tuple(old_values)
    out += b"N" + encode_tuple(new_values)
    return bytes(out)


def encode_delete(
    relation_id: int,
    old_values: list[Any],
    *,
    key_only: bool = False,
    stream_xid: int | None = None,
) -> bytes:
    out = bytearray(b"D") + _stream_prefix(stream_xid) + relation_id.to_bytes(4, "big")
    out += b"K" if key_only else b"O"
    out += encode_tuple(old_values)
    return bytes(out)


def encode_begin(final_lsn: int, commit_ts_us: int, xid: int) -> bytes:
    """'B': u64 commit LSN of this tx, u64 commit timestamp (µs since
    2000-01-01), u32 xid."""
    return (
        b"B"
        + final_lsn.to_bytes(8, "big")
        + commit_ts_us.to_bytes(8, "big")
        + xid.to_bytes(4, "big")
    )


def encode_commit(commit_lsn: int, end_lsn: int, commit_ts_us: int) -> bytes:
    """'C': u8 flags (0), u64 commit LSN, u64 end LSN, u64 timestamp."""
    return (
        b"C\x00"
        + commit_lsn.to_bytes(8, "big")
        + end_lsn.to_bytes(8, "big")
        + commit_ts_us.to_bytes(8, "big")
    )


def encode_stream_start(xid: int, *, first_segment: bool = True) -> bytes:
    """'S' (protocol v2, PG 14+ streamed in-progress transactions):
    u32 xid, u8 first-segment flag (1 on the first block of this xid)."""
    return b"S" + xid.to_bytes(4, "big") + (b"\x01" if first_segment else b"\x00")


def encode_stream_stop() -> bytes:
    """'E' (protocol v2): end of the current streamed block. No body."""
    return b"E"


def encode_stream_commit(
    xid: int, commit_lsn: int, end_lsn: int, commit_ts_us: int
) -> bytes:
    """'c' (protocol v2): u32 xid, u8 flags (0), u64 commit LSN, u64 end
    LSN, u64 commit timestamp (µs since 2000-01-01)."""
    return (
        b"c"
        + xid.to_bytes(4, "big")
        + b"\x00"
        + commit_lsn.to_bytes(8, "big")
        + end_lsn.to_bytes(8, "big")
        + commit_ts_us.to_bytes(8, "big")
    )


def encode_stream_abort(xid: int, subxid: int) -> bytes:
    """'A' (protocol v2): u32 toplevel xid, u32 aborted subtransaction
    xid (== xid when the whole streamed transaction rolls back)."""
    return b"A" + xid.to_bytes(4, "big") + subxid.to_bytes(4, "big")


def _stream_prefix(stream_xid: int | None) -> bytes:
    return b"" if stream_xid is None else stream_xid.to_bytes(4, "big")


# ------------------------------------------------------------------
# two-phase commit messages (PG 15+ ``two_phase`` slot option — the
# protocol rung above v2 streaming; grammar: public PostgreSQL logical
# replication message-format docs. Beyond the reference, which never
# implemented two_phase.)
# ------------------------------------------------------------------


def _gid_suffix(xid: int, gid: str) -> bytes:
    return xid.to_bytes(4, "big") + gid.encode("utf-8") + b"\x00"


def encode_begin_prepare(
    prepare_lsn: int, end_lsn: int, prepare_ts_us: int, xid: int, gid: str
) -> bytes:
    """'b': u64 prepare LSN, u64 end LSN, u64 prepare timestamp (µs
    since 2000-01-01), u32 xid, cstring gid — opens a prepared
    transaction's DML block (the 2PC analog of 'B')."""
    return (
        b"b"
        + prepare_lsn.to_bytes(8, "big")
        + end_lsn.to_bytes(8, "big")
        + prepare_ts_us.to_bytes(8, "big")
        + _gid_suffix(xid, gid)
    )


def encode_prepare(
    prepare_lsn: int, end_lsn: int, prepare_ts_us: int, xid: int, gid: str
) -> bytes:
    """'P': u8 flags (0), then the same layout as Begin Prepare —
    closes the prepared DML block; the commit/rollback DECISION arrives
    later as 'K'/'r'."""
    return (
        b"P\x00"
        + prepare_lsn.to_bytes(8, "big")
        + end_lsn.to_bytes(8, "big")
        + prepare_ts_us.to_bytes(8, "big")
        + _gid_suffix(xid, gid)
    )


def encode_commit_prepared(
    commit_lsn: int, end_lsn: int, commit_ts_us: int, xid: int, gid: str
) -> bytes:
    """'K': u8 flags (0), u64 commit LSN, u64 end LSN, u64 commit
    timestamp, u32 xid, cstring gid — COMMIT PREPARED."""
    return (
        b"K\x00"
        + commit_lsn.to_bytes(8, "big")
        + end_lsn.to_bytes(8, "big")
        + commit_ts_us.to_bytes(8, "big")
        + _gid_suffix(xid, gid)
    )


def encode_rollback_prepared(
    prepare_end_lsn: int,
    rollback_end_lsn: int,
    prepare_ts_us: int,
    rollback_ts_us: int,
    xid: int,
    gid: str,
) -> bytes:
    """'r': u8 flags (0), u64 prepare end LSN, u64 rollback end LSN,
    u64 prepare timestamp, u64 rollback timestamp, u32 xid, cstring
    gid — ROLLBACK PREPARED."""
    return (
        b"r\x00"
        + prepare_end_lsn.to_bytes(8, "big")
        + rollback_end_lsn.to_bytes(8, "big")
        + prepare_ts_us.to_bytes(8, "big")
        + rollback_ts_us.to_bytes(8, "big")
        + _gid_suffix(xid, gid)
    )


def encode_stream_prepare(
    prepare_lsn: int, end_lsn: int, prepare_ts_us: int, xid: int, gid: str
) -> bytes:
    """'p': u8 flags (0), then the Prepare layout — a STREAMED (v2)
    transaction reaching PREPARE instead of StreamCommit; its S…E
    fragments stitch exactly like the streamed case, gated on 'K'."""
    return (
        b"p\x00"
        + prepare_lsn.to_bytes(8, "big")
        + end_lsn.to_bytes(8, "big")
        + prepare_ts_us.to_bytes(8, "big")
        + _gid_suffix(xid, gid)
    )


def encode_truncate(
    relation_ids: list[int], *, cascade: bool = False, restart_identity: bool = False
) -> bytes:
    """'T': u32 relation count, u8 options (bit0 CASCADE, bit1 RESTART
    IDENTITY), then u32 relation ids."""
    options = (1 if cascade else 0) | (2 if restart_identity else 0)
    out = bytearray(b"T")
    out += len(relation_ids).to_bytes(4, "big")
    out.append(options)
    for rid in relation_ids:
        out += rid.to_bytes(4, "big")
    return bytes(out)


def encode_logical_message(
    prefix: str, content: bytes, lsn: int, *, transactional: bool = True
) -> bytes:
    """'M' (logical decoding message, pg_logical_emit_message): u8
    flags (bit0 = transactional), u64 LSN, cstr prefix, u32 content
    length, content bytes."""
    out = bytearray(b"M")
    out.append(1 if transactional else 0)
    out += lsn.to_bytes(8, "big")
    out += prefix.encode() + b"\x00"
    out += len(content).to_bytes(4, "big")
    out += content
    return bytes(out)


def encode_xlogdata(wal_start: int, wal_end: int, clock_us: int, payload: bytes) -> bytes:
    """CopyData XLogData frame ('w'): u64 WAL start, u64 WAL end, u64
    server clock (µs since PG epoch), then one pgoutput message."""
    return b"w" + wal_start.to_bytes(8, "big") + wal_end.to_bytes(8, "big") \
        + clock_us.to_bytes(8, "big") + payload


def encode_keepalive(wal_end: int, clock_us: int, *, reply_requested: bool = False) -> bytes:
    """Primary keepalive ('k'): u64 WAL end, u64 clock, u8 reply flag."""
    return b"k" + wal_end.to_bytes(8, "big") + clock_us.to_bytes(8, "big") \
        + (b"\x01" if reply_requested else b"\x00")


class ReplicationStream:
    """The streaming-replication transport layer between a COPY BOTH
    socket and the pgoutput message parser — the walreceiver loop the
    reference runs inside postgres/mod.rs:64-120: CopyData payloads are
    XLogData ('w', carrying exactly one pgoutput message) or primary
    keepalives ('k'); the client answers with Standby Status Update
    ('r') frames whose flush LSN IS the server-side restart point (the
    slot's confirmed_flush_lsn — reporting an unflushed LSN loses data
    on crash, so ``flushed_lsn`` here advances only at Commit).

    No socket in the sandbox: this class consumes CopyData payload
    bytes directly and is exercised against synthetic frames. The LSN
    feedback algebra is the real contract:

    - ``received_lsn``: max WAL end seen (any frame, incl. keepalives)
    - ``flushed_lsn`` / ``applied_lsn``: advance ONLY when a Commit
      message is fully processed (end_lsn) — mid-transaction frames are
      received but deliberately not acknowledged
    - ``status_update()`` emits the 'r' frame to send back; a keepalive
      with the reply flag set demands one immediately
    """

    def __init__(self, *, flushed_lsn: int = 0) -> None:
        self.received_lsn = flushed_lsn
        self.flushed_lsn = flushed_lsn
        self.applied_lsn = flushed_lsn
        # protocol v2: inside an S…E block R/I/U/D/T/M carry a leading
        # xid — the sequential receiver is the one place that can know
        # the block context, so it owns the flag and tags messages
        self.in_stream = False

    def feed_copydata(self, data: bytes) -> dict[str, Any]:
        if not data:
            raise PgoutputError("empty CopyData payload")
        tag = data[0:1]
        if tag == b"w":
            if len(data) < 25:
                raise PgoutputError("XLogData frame truncated")
            wal_start = int.from_bytes(data[1:9], "big")
            wal_end = int.from_bytes(data[9:17], "big")
            clock_us = int.from_bytes(data[17:25], "big")
            msg = parse_message(data[25:], in_stream=self.in_stream)
            if msg["kind"] == "stream_start":
                self.in_stream = True
            elif msg["kind"] == "stream_stop":
                self.in_stream = False
            self.received_lsn = max(self.received_lsn, wal_end)
            if msg["kind"] in ("commit", "stream_commit"):
                # Commit / StreamCommit carry end_lsn: everything at or
                # below it is durable in order — safe to acknowledge.
                # Mid-stream blocks (E) deliberately do NOT advance the
                # flush point: an aborted streamed tx must be replayable.
                self.flushed_lsn = max(self.flushed_lsn, msg["end_lsn"])
                self.applied_lsn = self.flushed_lsn
            return {
                "kind": "xlogdata",
                "wal_start": wal_start,
                "wal_end": wal_end,
                "clock_us": clock_us,
                "message": msg,
                "reply_requested": False,
            }
        if tag == b"k":
            if len(data) < 18:
                raise PgoutputError("keepalive frame truncated")
            wal_end = int.from_bytes(data[1:9], "big")
            clock_us = int.from_bytes(data[9:17], "big")
            reply = bool(data[17])
            self.received_lsn = max(self.received_lsn, wal_end)
            return {
                "kind": "keepalive",
                "wal_end": wal_end,
                "clock_us": clock_us,
                "reply_requested": reply,
            }
        raise PgoutputError(f"unknown CopyData tag {tag!r}")

    def status_update(self, clock_us: int = 0, *, reply_requested: bool = False) -> bytes:
        """Standby Status Update ('r'): u64 written, u64 flushed, u64
        applied, u64 clock, u8 reply-requested."""
        return (
            b"r"
            + self.received_lsn.to_bytes(8, "big")
            + self.flushed_lsn.to_bytes(8, "big")
            + self.applied_lsn.to_bytes(8, "big")
            + clock_us.to_bytes(8, "big")
            + (b"\x01" if reply_requested else b"\x00")
        )


def parse_tuple(buf: bytes, off: int = 0) -> tuple[list[Any], int]:
    """Parse TupleData at ``off``; returns (values, next offset).
    Values are ``None`` | ``UNCHANGED`` | ``str`` (text mode — pgoutput
    sends text representation unless binary mode is negotiated;
    reference parse_tuple_data postgres_object.rs:270-340)."""
    if off + 2 > len(buf):
        raise PgoutputError("tuple truncated before column count")
    ncols = int.from_bytes(buf[off : off + 2], "big")
    off += 2
    values: list[Any] = []
    for _ in range(ncols):
        if off >= len(buf):
            raise PgoutputError("tuple truncated mid-columns")
        marker = buf[off : off + 1]
        off += 1
        if marker == b"n":
            values.append(None)
        elif marker == b"u":
            values.append(UNCHANGED)
        elif marker == b"t" or marker == b"b":
            if off + 4 > len(buf):
                raise PgoutputError("tuple truncated before value length")
            n = int.from_bytes(buf[off : off + 4], "big")
            off += 4
            if off + n > len(buf):
                raise PgoutputError("tuple value overruns buffer")
            chunk = buf[off : off + n]
            # binary-mode values stay bytes (reference
            # PgColumnValue::Binary, postgres_object.rs:315-332)
            values.append(chunk.decode("utf-8") if marker == b"t" else chunk)
            off += n
        else:
            raise PgoutputError(f"unknown tuple marker {marker!r}")
    return values, off


#: protocol-v2 message kinds that carry a leading u32 xid when sent
#: inside a streamed (S…E) block
_STREAMABLE_TAGS = (b"R", b"I", b"U", b"D", b"T", b"M")


def parse_message(data: bytes, *, in_stream: bool = False) -> dict[str, Any]:
    """Parse one pgoutput message into a tagged dict. Unknown message
    kinds return ``{"kind": "other", "tag": <char>}`` (the reference
    debug-logs and skips them, postgres_event.rs:195-210).

    ``in_stream``: protocol v2 (PG 14+) — inside an S…E streamed block,
    R/I/U/D/T/M messages carry a leading u32 xid; the parser must know
    the block context because the byte layout is otherwise identical.
    The xid surfaces as ``stream_xid`` on the parsed dict (it is the
    owning [sub]transaction — StreamAbort discards rows by this id)."""
    if not data:
        raise PgoutputError("empty message")
    tag = data[0:1]
    body = data[1:]
    stream_xid = None
    if in_stream and tag in _STREAMABLE_TAGS:
        if len(body) < 4:
            raise PgoutputError("streamed message truncated before xid")
        stream_xid = int.from_bytes(body[0:4], "big")
        body = body[4:]
    m = _parse_message_body(tag, body)
    if stream_xid is not None:
        m["stream_xid"] = stream_xid
    return m


def _parse_message_body(tag: bytes, body: bytes) -> dict[str, Any]:
    if tag == b"R":
        if len(body) < 8:
            raise PgoutputError("relation message truncated")
        relation_id = int.from_bytes(body[0:4], "big")
        off = 4
        schema, off = _read_cstring(body, off)
        table, off = _read_cstring(body, off)
        replica_identity = chr(body[off]) if off < len(body) else "d"
        off += 1
        if off + 2 > len(body):
            raise PgoutputError("relation message truncated before ncols")
        ncols = int.from_bytes(body[off : off + 2], "big")
        off += 2
        cols = []
        for _ in range(ncols):
            if off >= len(body):
                raise PgoutputError("relation columns truncated")
            flags = body[off]
            off += 1
            name, off = _read_cstring(body, off)
            if off + 8 > len(body):
                raise PgoutputError("relation column type truncated")
            oid = int.from_bytes(body[off : off + 4], "big")
            typmod = int.from_bytes(body[off + 4 : off + 8], "big", signed=True)
            off += 8
            cols.append(
                {"name": name, "type_oid": oid, "type_modifier": typmod, "flags": flags}
            )
        return {
            "kind": "relation",
            "relation_id": relation_id,
            "schema": schema,
            "table": table,
            "replica_identity": replica_identity,
            "columns": cols,
        }
    if tag == b"I":
        if len(body) < 5:
            raise PgoutputError("insert message truncated")
        relation_id = int.from_bytes(body[0:4], "big")
        if body[4:5] != b"N":
            raise PgoutputError(f"unexpected insert tuple marker {body[4:5]!r}")
        values, _ = parse_tuple(body, 5)
        return {"kind": "insert", "relation_id": relation_id, "new": values}
    if tag == b"U":
        if len(body) < 5:
            raise PgoutputError("update message truncated")
        relation_id = int.from_bytes(body[0:4], "big")
        off = 4
        old = None
        key_only = False
        new = None
        while off < len(body):
            marker = body[off : off + 1]
            off += 1
            if marker in (b"K", b"O"):
                key_only = marker == b"K"
                old, off = parse_tuple(body, off)
            elif marker == b"N":
                new, off = parse_tuple(body, off)
                break
            else:
                raise PgoutputError(f"unknown update image marker {marker!r}")
        if new is None:
            raise PgoutputError("update missing new tuple")
        return {
            "kind": "update",
            "relation_id": relation_id,
            "old": old,
            "old_key_only": key_only,
            "new": new,
        }
    if tag == b"D":
        if len(body) < 5:
            raise PgoutputError("delete message truncated")
        relation_id = int.from_bytes(body[0:4], "big")
        marker = body[4:5]
        if marker not in (b"K", b"O"):
            raise PgoutputError(f"unknown delete image marker {marker!r}")
        old, _ = parse_tuple(body, 5)
        return {
            "kind": "delete",
            "relation_id": relation_id,
            "old": old,
            "old_key_only": marker == b"K",
        }
    if tag == b"M":
        if len(body) < 9:
            raise PgoutputError("logical message truncated")
        flags = body[0]
        lsn = int.from_bytes(body[1:9], "big")
        prefix, off = _read_cstring(body, 9)
        if off + 4 > len(body):
            raise PgoutputError("logical message truncated before length")
        n = int.from_bytes(body[off : off + 4], "big")
        off += 4
        if off + n > len(body):
            raise PgoutputError("logical message content overruns")
        return {
            "kind": "message",
            "transactional": bool(flags & 1),
            "lsn": lsn,
            "prefix": prefix,
            "content": body[off : off + n],
        }
    if tag == b"T":
        if len(body) < 5:
            raise PgoutputError("truncate message truncated")
        n = int.from_bytes(body[0:4], "big")
        options = body[4]
        ids = []
        off = 5
        for _ in range(n):
            if off + 4 > len(body):
                raise PgoutputError("truncate relation ids truncated")
            ids.append(int.from_bytes(body[off : off + 4], "big"))
            off += 4
        return {
            "kind": "truncate",
            "relation_ids": ids,
            "cascade": bool(options & 1),
            "restart_identity": bool(options & 2),
        }
    if tag == b"B":
        if len(body) < 20:
            raise PgoutputError("begin message truncated")
        return {
            "kind": "begin",
            "final_lsn": int.from_bytes(body[0:8], "big"),
            "commit_ts_us": int.from_bytes(body[8:16], "big"),
            "xid": int.from_bytes(body[16:20], "big"),
        }
    if tag == b"C":
        if len(body) < 25:
            raise PgoutputError("commit message truncated")
        return {
            "kind": "commit",
            "flags": body[0],
            "commit_lsn": int.from_bytes(body[1:9], "big"),
            "end_lsn": int.from_bytes(body[9:17], "big"),
            "commit_ts_us": int.from_bytes(body[17:25], "big"),
        }
    if tag == b"S":
        if len(body) < 5:
            raise PgoutputError("stream start truncated")
        return {
            "kind": "stream_start",
            "xid": int.from_bytes(body[0:4], "big"),
            "first_segment": bool(body[4]),
        }
    if tag == b"E":
        return {"kind": "stream_stop"}
    if tag == b"c":
        if len(body) < 29:
            raise PgoutputError("stream commit truncated")
        return {
            "kind": "stream_commit",
            "xid": int.from_bytes(body[0:4], "big"),
            "flags": body[4],
            "commit_lsn": int.from_bytes(body[5:13], "big"),
            "end_lsn": int.from_bytes(body[13:21], "big"),
            "commit_ts_us": int.from_bytes(body[21:29], "big"),
        }
    if tag == b"A":
        if len(body) < 8:
            raise PgoutputError("stream abort truncated")
        return {
            "kind": "stream_abort",
            "xid": int.from_bytes(body[0:4], "big"),
            "subxid": int.from_bytes(body[4:8], "big"),
        }
    if tag == b"b":
        if len(body) < 29:
            raise PgoutputError("begin prepare truncated")
        gid, _ = _read_cstring(body, 28)
        return {
            "kind": "begin_prepare",
            "prepare_lsn": int.from_bytes(body[0:8], "big"),
            "end_lsn": int.from_bytes(body[8:16], "big"),
            "prepare_ts_us": int.from_bytes(body[16:24], "big"),
            "xid": int.from_bytes(body[24:28], "big"),
            "gid": gid,
        }
    if tag in (b"P", b"p"):
        if len(body) < 30:
            raise PgoutputError("prepare truncated")
        gid, _ = _read_cstring(body, 29)
        return {
            "kind": "prepare" if tag == b"P" else "stream_prepare",
            "flags": body[0],
            "prepare_lsn": int.from_bytes(body[1:9], "big"),
            "end_lsn": int.from_bytes(body[9:17], "big"),
            "prepare_ts_us": int.from_bytes(body[17:25], "big"),
            "xid": int.from_bytes(body[25:29], "big"),
            "gid": gid,
        }
    if tag == b"K":
        if len(body) < 30:
            raise PgoutputError("commit prepared truncated")
        gid, _ = _read_cstring(body, 29)
        return {
            "kind": "commit_prepared",
            "flags": body[0],
            "commit_lsn": int.from_bytes(body[1:9], "big"),
            "end_lsn": int.from_bytes(body[9:17], "big"),
            "commit_ts_us": int.from_bytes(body[17:25], "big"),
            "xid": int.from_bytes(body[25:29], "big"),
            "gid": gid,
        }
    if tag == b"r":
        if len(body) < 38:
            raise PgoutputError("rollback prepared truncated")
        gid, _ = _read_cstring(body, 37)
        return {
            "kind": "rollback_prepared",
            "flags": body[0],
            "prepare_end_lsn": int.from_bytes(body[1:9], "big"),
            "rollback_end_lsn": int.from_bytes(body[9:17], "big"),
            "prepare_ts_us": int.from_bytes(body[17:25], "big"),
            "rollback_ts_us": int.from_bytes(body[25:33], "big"),
            "xid": int.from_bytes(body[33:37], "big"),
            "gid": gid,
        }
    return {"kind": "other", "tag": tag.decode("latin-1")}


# ------------------------------------------------------------------
# text-mode value conversion (reference convert_text_value
# postgres_object.rs:106-160) + object building (:50-69)
# ------------------------------------------------------------------

_BOOL_TRUE = {"t", "true", "1", "yes", "on"}
_BOOL_FALSE = {"f", "false", "0", "no", "off"}

#: array-type OIDs the reference special-cases (is_array_type,
#: postgres_object.rs:156-176; 3802 there is shadowed by the earlier
#: JSONB arm — same here since JSON/JSONB convert first)
ARRAY_OIDS = {1000, 1001, 1005, 1007, 1009, 1016, 1021, 1022, 1014, 1015, 2951, 3802, 199}


def parse_pg_array_text(s: str) -> Any:
    """PG array literal → typed list (reference parse_pg_array +
    parse_array_elements + parse_array_element,
    postgres_object.rs:179-267): quote/backslash aware split; elements
    NULL → None, t/f/true/false → bool, then int, then float, else
    string. QUOTED elements stay literal strings — per PostgreSQL's
    array-output rules, ``{"NULL"}`` is the string and ``{NULL}`` the
    null (the reference drops quote information before typing and
    conflates them; the Column twin functions/pgarray.py and this
    parser both keep the distinction). Non-literal input returns the
    string unchanged."""
    s = s.strip()
    if s == "{}":
        return []
    if not (s.startswith("{") and s.endswith("}")):
        return s
    inner = s[1:-1]
    elements: list[Any] = []
    current: list[str] = []
    in_quotes = False
    escape_next = False
    was_quoted = False

    def emit(text: str, quoted: bool) -> Any:
        if quoted:
            return text  # literal string, verbatim (unescaped already)
        t = text.strip()
        if t.upper() == "NULL":
            return None
        low = t.lower()
        if low in ("t", "true"):
            return True
        if low in ("f", "false"):
            return False
        try:
            return int(t)
        except ValueError:
            pass
        try:
            return float(t)
        except ValueError:
            pass
        return t

    for c in inner:
        if escape_next:
            current.append(c)
            escape_next = False
        elif c == "\\":
            escape_next = True
        elif c == '"':
            in_quotes = not in_quotes
            was_quoted = True
        elif c == "," and not in_quotes:
            elements.append(emit("".join(current), was_quoted))
            current = []
            was_quoted = False
        else:
            current.append(c)
    if current or was_quoted or elements:
        elements.append(emit("".join(current), was_quoted))
    return elements


def convert_text_value(s: str, type_oid: int) -> Any:
    import base64

    if type_oid == BOOL:
        low = s.lower()
        if low in _BOOL_TRUE:
            return True
        if low in _BOOL_FALSE:
            return False
        return s
    if type_oid in (INT2, INT4, INT8, OID):
        try:
            return int(s)
        except ValueError:
            return s
    if type_oid in (FLOAT4, FLOAT8):
        try:
            return float(s)
        except ValueError:
            return s
    if type_oid == NUMERIC:
        return s  # string preserves precision (reference :121-124)
    if type_oid in (JSON, JSONB):
        try:
            return json.loads(s)
        except ValueError:
            return s
    if type_oid == BYTEA:
        if s.startswith("\\x"):
            try:
                raw = bytes.fromhex(s[2:])
            except ValueError:
                return s
            return {"_base64": base64.b64encode(raw).decode()}
        return s
    if type_oid in ARRAY_OIDS:
        return parse_pg_array_text(s)
    return s


def build_object(columns: list[dict], values: list[Any]) -> dict[str, Any]:
    """Column-name → converted-value map (reference build_object
    postgres_object.rs:50-69; missing values → null, Unchanged →
    ``{"_unchanged": true}`` marker consumed by operators/toast.py)."""
    import base64

    obj: dict[str, Any] = {}
    for idx, col in enumerate(columns):
        v = values[idx] if idx < len(values) else None
        if v is None:
            obj[col["name"]] = None
        elif v is UNCHANGED:
            obj[col["name"]] = {"_unchanged": True}
        elif isinstance(v, (bytes, bytearray)):
            # binary mode → base64 wrap (reference convert_binary_value
            # postgres_object.rs:150-153)
            obj[col["name"]] = {"_base64": base64.b64encode(bytes(v)).decode()}
        else:
            obj[col["name"]] = convert_text_value(v, col["type_oid"])
    return obj


# ------------------------------------------------------------------
# Spark-side distributed decode
# ------------------------------------------------------------------

RELATION_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("relation_id", T.LongType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("replica_identity", T.StringType()),
        T.StructField("columns_json", T.StringType()),
    ]
)

DML_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("relation_id", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("before", T.StringType()),
        T.StructField("after", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
    ]
)

#: DML_SCHEMA + protocol-v2 stream attribution (block toplevel xid and
#: the message's own xid — they differ only for subtransactions)
DML_V2_SCHEMA = T.StructType(
    DML_SCHEMA.fields
    + [
        T.StructField("stream_xid", T.LongType()),
        T.StructField("msg_xid", T.LongType()),
    ]
)

#: one row per parsed non-'R' control message; a field a message kind
#: does not carry is null (see :func:`pgoutput_control_rows`)
CONTROL_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("xid", T.LongType()),
        T.StructField("subxid", T.LongType()),
        T.StructField("lsn_key", T.LongType()),
        T.StructField("gid", T.StringType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("first_segment", T.BooleanType()),
    ]
)

#: first-byte tags of the control messages: Relation, Begin/Commit,
#: stream Start/End/Commit/Abort, and the two-phase b/P/K/r/p family
CONTROL_TAGS = b"RBCSEcAbPKrp"


def _block_intervals(
    stream_blocks: list[dict[str, Any]] | None,
) -> list[tuple[int, int, int]]:
    """Sorted (start_seq, end_seq, xid) triples for bisect-based block
    membership: a message at ``seq`` is streamed iff start < seq < end
    of some block (the S and E rows themselves are the boundaries)."""
    return sorted(
        (int(blk["start_seq"]), int(blk["end_seq"]), int(blk["xid"]))
        for blk in (stream_blocks or [])
    )


def _tag_prefilter(stream: DataFrame, data_col: str, tags: bytes) -> DataFrame:
    """JVM-side first-byte prefilter for a control-plane scan — the r10
    DML-prefilter discipline (VERDICT r10 #2) extended to every
    tag-selective pass (VERDICT r13 #7: each pass re-shipped the WHOLE
    byte stream across Arrow to keep a sliver).

    A control pass (relation catalog, B/C transaction table, S/E
    stream bounds, two-phase control rows, …) keeps only messages with
    specific first-byte tags, but without this filter every row —
    including every multi-KB DML payload — crosses the JVM→Python
    Arrow boundary just to die on the Python-side tag test. The
    ``substring`` comparison runs inside whole-stage codegen, so the
    transfer shrinks to the control rows themselves (a replication
    stream is ~2 control rows per transaction). The Python-side tag
    check stays as the invariant guard, exactly like the DML pass."""
    return stream.where(_tag_in(data_col, tags))


def _tag_in(data_col: str, tags: bytes) -> Column:
    """``data``'s first byte is one of ``tags`` (binary compare, codegen'd)."""
    hexes = ", ".join(f"X'{t:02X}'" for t in tags)
    return F.expr(f"substring(`{data_col}`, 1, 1) IN ({hexes})")


def _control_plane_pin(stream: DataFrame, data_col: str, seq_col: str) -> DataFrame:
    """Materialize the control rows ONCE and feed every control-plane
    pass from the pinned subset (guide §1.2 — don't recompute: each
    pass would otherwise re-scan the ENTIRE capture to keep ~2 control
    rows per transaction). Rows whose payload is NULL or empty ride
    along so the tag census can count and reject them. The pin is
    control-plane-sized (#control rows, never #events), and it is a
    PERSIST, not a checkpoint: the census job materializes it and
    every later pass reads the cache, which backs the decoder's result
    until the caller's ``pin_scope`` closes."""
    from ..plans.lineage import persist

    null_or_empty = F.col(data_col).isNull() | (F.length(data_col) == 0)
    return persist(
        stream.where(null_or_empty | _tag_in(data_col, CONTROL_TAGS)).select(seq_col, data_col)
    )


def pgoutput_relation_catalog(
    stream: DataFrame,
    *,
    data_col: str = "data",
    seq_col: str = "seq",
    stream_blocks: list[dict[str, Any]] | None = None,
    attr_col: str | None = None,
) -> list[dict[str, Any]]:
    """Extract the VERSIONED relation catalog from a captured stream:
    map-only parse of 'R' messages, each announcement kept with its
    stream position, collected to the driver (O(#R-messages) — a
    control-plane read, the distributed twin of the reference's
    ``relation_map``). Versioning matters under schema drift: an 'R'
    re-announcing a relation with different columns applies to the
    messages AFTER it (the reference replays the sequential semantics;
    here the decoder binds each DML row to the latest announcement at
    or before its seq).

    Protocol v2 (PG 14+): PG sends Relation messages INSIDE S…E
    streamed blocks too (``maybe_send_schema`` runs wherever the first
    DML for a relation appears — including mid-stream), and in-block
    'R' bytes carry the leading u32 xid like every other streamable
    kind. Without block membership those four xid bytes would be
    misread as the relation_id and the real id as the start of the
    namespace cstring, poisoning the catalog entry. Two ways to supply
    membership:

    - ``stream_blocks``: the :func:`pgoutput_stream_blocks` list
      (small-capture fast path — broadcast bisect, same as before);
    - ``attr_col``: the stream already carries a per-row block-xid
      column from :func:`pgoutput_attribute_stream` (null = outside
      any block) — the distributed path, no driver-side block state
      at all."""
    blocks = _block_intervals(stream_blocks)
    bc = stream.sparkSession.sparkContext.broadcast(blocks)
    use_attr = attr_col is not None

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from bisect import bisect_right

        blks = bc.value
        starts = [blk[0] for blk in blks]

        def emit(rows, seq, m):
            rows.append(
                (
                    seq,
                    m["relation_id"],
                    m["schema"],
                    m["table"],
                    m["replica_identity"],
                    json.dumps(m["columns"], sort_keys=True),
                )
            )

        # use_attr hoisted out of the per-row loop: the v1/blocks path
        # must not pay a third zip column or a per-row branch
        for pdf in batches:
            rows = []
            if use_attr:
                for seq, data, attr in zip(
                    pdf[seq_col], pdf[data_col], pdf[attr_col]
                ):
                    b = bytes(data)
                    if b[:1] != b"R":
                        continue
                    m = parse_message(b, in_stream=bool(pd.notna(attr)))
                    emit(rows, int(seq), m)
            else:
                for seq, data in zip(pdf[seq_col], pdf[data_col]):
                    b = bytes(data)
                    if b[:1] != b"R":
                        continue
                    seq = int(seq)
                    in_stream = False
                    if blks:
                        bi = bisect_right(starts, seq) - 1
                        in_stream = bi >= 0 and seq < blks[bi][1]
                    m = parse_message(b, in_stream=in_stream)
                    emit(rows, seq, m)
            yield pd.DataFrame(
                rows,
                columns=["seq", "relation_id", "schema", "table",
                         "replica_identity", "columns_json"],
            )

    in_cols = [seq_col, data_col] + ([attr_col] if use_attr else [])
    rel = (
        _tag_prefilter(stream, data_col, b"R")
        .select(*in_cols)
        .mapInPandas(scan, RELATION_SCHEMA)
    )
    # the driver must see O(#schema versions), never O(#announcements):
    # PG's maybe_send_schema re-announces a relation per streamed
    # transaction (reorder-buffer behavior), so an archive capture's
    # 'R' count is proportional to #transactions and a raw collect here
    # re-opens the driver-OOM the distributed block path closed (ADVICE
    # r9 medium, pgoutput.py:1032). Identical consecutive announcements
    # bind DML rows identically (the versioned catalog's
    # latest-at-or-before lookup lands on the same entry), so keeping
    # only first-and-changed versions per relation cannot change any
    # decode — one lag() window over the tiny R-only extraction.
    from pyspark.sql import Window

    w = Window.partitionBy("relation_id").orderBy("seq")
    sig = F.concat_ws(
        "\x00",
        F.coalesce(F.col("schema"), F.lit("")),
        F.coalesce(F.col("table"), F.lit("")),
        F.coalesce(F.col("replica_identity"), F.lit("")),
        F.col("columns_json"),
    )
    rel = (
        rel.withColumn("_sig", sig)
        .withColumn("_prev", F.lag("_sig").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("_sig")))
        .drop("_sig", "_prev")
    )
    return [r.asDict() for r in rel.collect()]


def decode_pgoutput_dml(
    stream: DataFrame,
    relations: list[dict[str, Any]],
    *,
    data_col: str = "data",
    seq_col: str = "seq",
    stream_blocks: list[dict[str, Any]] | None = None,
    attr_col: str | None = None,
) -> DataFrame:
    """Map-only decode of I/U/D messages into CDC rows with JSON
    before/after images. DML for an unknown relation is dropped, like
    the reference's warn-and-skip (postgres_event.rs:415-418).

    Protocol v2: messages inside an S…E block parse in streamed form
    (leading xid) and the output gains ``stream_xid`` (the block's
    toplevel xid) and ``msg_xid`` (the message's own [sub]transaction
    xid, StreamAbort's discard key). Block membership comes one of two
    ways:

    - ``stream_blocks``: the collected interval list from
      :func:`pgoutput_stream_blocks` — a broadcast bisect, O(#blocks)
      DRIVER state, the small-capture fast path;
    - ``attr_col``: a per-row block-xid column already joined onto the
      stream by :func:`pgoutput_attribute_stream` — fully distributed,
      the 100-TB archive-replay path (block state never visits the
      driver)."""
    if stream_blocks is not None and attr_col is not None:
        raise ValueError("pass stream_blocks OR attr_col, not both")
    # versioned catalog: per relation_id, announcements sorted by seq;
    # a DML row decodes against the latest version at or before it
    # (sequential 'R'-applies-forward semantics, made order-free).
    # Entries without a seq (hand-built catalogs in tests/tools) sort
    # first, i.e. apply from the beginning of the stream.
    catalog: dict[int, list[tuple[int, dict[str, Any]]]] = {}
    for r in relations:
        catalog.setdefault(int(r["relation_id"]), []).append(
            (
                # explicit None check: `or -1` would coerce a legitimate
                # seq=0 announcement to the no-seq sentinel
                -1 if r.get("seq") is None else int(r["seq"]),
                {
                    "schema": r["schema"],
                    "table": r["table"],
                    "columns": json.loads(r["columns_json"]),
                },
            )
        )
    for versions in catalog.values():
        versions.sort(key=lambda sv: sv[0])
    # block intervals as parallel sorted lists for bisect: a DML at seq
    # is streamed iff start < seq < end of some block
    block_starts = _block_intervals(stream_blocks)
    use_attr = attr_col is not None
    v2 = stream_blocks is not None or use_attr
    sc = stream.sparkSession.sparkContext
    bc = sc.broadcast((catalog, block_starts))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from bisect import bisect_right

        cat, blocks = bc.value
        starts = [blk[0] for blk in blocks]
        # Catalog split (r10 decode-regression fix, VERDICT r9 #2): a
        # relation with ONE announcement — the overwhelmingly common
        # shape — resolves with a plain dict hit plus one int compare
        # (r8's per-row cost); only genuinely RE-announced relations
        # pay a bisect, over a parallel seq list so no per-probe key
        # lambda. The per-row `bisect_right(key=...)` this replaces
        # measured as most of the r9 decode regression.
        single: dict[int, tuple[int, dict]] = {}
        multi: dict[int, tuple[list, list]] = {}
        for rid, versions in cat.items():
            if len(versions) == 1:
                single[rid] = versions[0]
            else:
                multi[rid] = ([sv[0] for sv in versions], [sv[1] for sv in versions])
        op_code = {"insert": "c", "update": "u", "delete": "d"}
        cols_out = [
            "seq", "lsn", "relation_id", "op", "schema", "table",
            "before", "after", "n_bytes",
        ] + (["stream_xid", "msg_xid"] if v2 else [])
        # membership branch hoisted to two loop bodies: the v1/blocks
        # path is r8's loop verbatim (no third zip column, no per-row
        # use_attr test) — keeps the decode hot loop regression-free
        for pdf in batches:
            rows = []
            if use_attr:
                for seq, data, attr in zip(
                    pdf[seq_col], pdf[data_col], pdf[attr_col]
                ):
                    b = bytes(data)
                    tag = b[:1]
                    if tag not in (b"I", b"U", b"D"):
                        continue
                    seq = int(seq)
                    blk_xid = int(attr) if pd.notna(attr) else None
                    m = parse_message(b, in_stream=blk_xid is not None)
                    rid = m["relation_id"]
                    sv = single.get(rid)
                    if sv is not None:
                        if seq < sv[0]:
                            continue  # DML before the announcement
                        rel = sv[1]
                    else:
                        mv = multi.get(rid)
                        if mv is None:
                            continue
                        idx = bisect_right(mv[0], seq) - 1
                        if idx < 0:
                            continue  # DML before any announcement
                        rel = mv[1][idx]
                    cols = rel["columns"]
                    op = op_code[m["kind"]]
                    before = None
                    after = None
                    if m["kind"] == "insert":
                        after = build_object(cols, m["new"])
                    elif m["kind"] == "update":
                        if m["old"] is not None:
                            before = build_object(cols, m["old"])
                        after = build_object(cols, m["new"])
                    else:
                        before = build_object(cols, m["old"])
                    rows.append(
                        (
                            seq,
                            seq,
                            m["relation_id"],
                            op,
                            rel["schema"],
                            rel["table"],
                            None if before is None else json.dumps(before, sort_keys=True),
                            None if after is None else json.dumps(after, sort_keys=True),
                            len(b),
                            blk_xid,
                            m.get("stream_xid"),
                        )
                    )
            else:
                for seq, data in zip(pdf[seq_col], pdf[data_col]):
                    b = bytes(data)
                    tag = b[:1]
                    if tag not in (b"I", b"U", b"D"):
                        continue
                    seq = int(seq)
                    blk_xid = None
                    if blocks:
                        bi = bisect_right(starts, seq) - 1
                        if bi >= 0 and seq < blocks[bi][1]:
                            blk_xid = blocks[bi][2]
                    m = parse_message(b, in_stream=blk_xid is not None)
                    rid = m["relation_id"]
                    sv = single.get(rid)
                    if sv is not None:
                        if seq < sv[0]:
                            continue  # DML before the announcement
                        rel = sv[1]
                    else:
                        mv = multi.get(rid)
                        if mv is None:
                            continue  # unknown relation: warn-and-skip
                        idx = bisect_right(mv[0], seq) - 1
                        if idx < 0:
                            continue  # DML before any announcement
                        rel = mv[1][idx]
                    cols = rel["columns"]
                    op = op_code[m["kind"]]
                    before = None
                    after = None
                    if m["kind"] == "insert":
                        after = build_object(cols, m["new"])
                    elif m["kind"] == "update":
                        if m["old"] is not None:
                            before = build_object(cols, m["old"])
                        after = build_object(cols, m["new"])
                    else:
                        before = build_object(cols, m["old"])
                    row = (
                        seq,
                        seq,
                        m["relation_id"],
                        op,
                        rel["schema"],
                        rel["table"],
                        None if before is None else json.dumps(before, sort_keys=True),
                        None if after is None else json.dumps(after, sort_keys=True),
                        len(b),
                    )
                    if v2:
                        row = row + (blk_xid, m.get("stream_xid"))
                    rows.append(row)
            yield pd.DataFrame(rows, columns=cols_out)

    in_cols = [seq_col, data_col] + ([attr_col] if use_attr else [])
    # JVM-side first-byte prefilter (VERDICT r10 #2): only I/U/D
    # messages are decodable DML — Begin/Commit/Relation/Origin/...
    # rows used to cross the Arrow boundary just to hit the Python
    # `tag not in` skip. Filtering on the binary tag inside
    # whole-stage codegen shrinks the Arrow transfer to DML-only rows
    # (a replication stream is ~2 control rows per tx plus relation
    # re-announcements, so the saving scales with tx rate). The
    # Python-side tag check stays as a cheap invariant guard. NULL or
    # empty payloads never reach it: decode_pgoutput's tag census
    # rejects them first.
    return (
        _tag_prefilter(stream, data_col, b"IUD")
        .select(*in_cols)
        .mapInPandas(run, DML_V2_SCHEMA if v2 else DML_SCHEMA)
    )


def pgoutput_control_rows(
    stream: DataFrame, *, data_col: str = "data", seq_col: str = "seq"
) -> DataFrame:
    """The ONE Python scan of the control plane: every non-'R' control
    message (B/C, S/E/c/A, b/P/K/r/p) parsed into :data:`CONTROL_SCHEMA`
    — ``xid``/``subxid``, ``lsn_key`` (Begin's final LSN, Commit's
    commit LSN: the B↔C pairing key), ``gid``, ``ts_us`` (commit or
    prepare time, µs since 2000-01-01) and ``first_segment``. The
    B…C, b…P, S/E, c/A and p/K tables are filters and joins over this
    one frame. #control rows, never #event rows."""

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for seq, data in zip(pdf[seq_col], pdf[data_col]):
                b = bytes(data)
                tag = b[:1]
                if tag == b"R":
                    continue
                m = parse_message(b)
                rows.append((
                    tag.decode(), int(seq), m.get("xid"), m.get("subxid"),
                    m.get("final_lsn", m.get("commit_lsn")), m.get("gid"),
                    m.get("commit_ts_us", m.get("prepare_ts_us")),
                    m.get("first_segment"),
                ))
            # object dtype: a u64 LSN next to a null must not round
            # through float64
            yield pd.DataFrame(rows, columns=CONTROL_SCHEMA.names, dtype=object)

    return (
        _tag_prefilter(stream, data_col, CONTROL_TAGS.replace(b"R", b""))
        .select(seq_col, data_col)
        .mapInPandas(scan, CONTROL_SCHEMA)
    )


def _ts_ms(ts_us: str) -> Column:
    """µs since 2000-01-01 → unix epoch ms. Integer DIV, not `/`:
    µs-since-2000 values exceed double's exact range within this
    century (same rule as the epoch-nanos handling in
    changefeed/binlog)."""
    return F.expr(f"CAST({ts_us} DIV 1000 AS BIGINT)") + F.lit(PG_EPOCH_UNIX_MS)


def _tx_intervals(ctl: DataFrame) -> DataFrame:
    """Order-free transaction reconstruction from parsed control rows:
    Begin pairs with Commit on the commit LSN both sides carry
    (B.final_lsn == C.commit_lsn — that is what the field is for),
    yielding ``(xid, begin_seq, commit_seq, commit_ts_ms, gid)`` with a
    null gid. One small equi-join; #tx rows, never #event rows."""
    begins = ctl.filter(F.col("kind") == "B").select(
        F.col("seq").alias("begin_seq"), "lsn_key", "xid", "ts_us"
    )
    commits = ctl.filter(F.col("kind") == "C").select(
        F.col("seq").alias("commit_seq"), "lsn_key"
    )
    return begins.join(commits, "lsn_key").select(
        "xid", "begin_seq", "commit_seq",
        _ts_ms("ts_us").alias("commit_ts_ms"),
        F.lit(None).cast("string").alias("gid"),
    )


#: end_seq sentinel for a trailing block the capture cut before its 'E'
#: — beyond any real seq, so bisect membership stays a plain `<` test
OPEN_BLOCK_END_SEQ = 1 << 62


def _bound_rows(ctl: DataFrame) -> DataFrame:
    """S ('Stream Start') and E ('Stream Stop') boundary rows of the
    parsed control rows: ``(seq, kind, xid, first_segment)``."""
    return ctl.filter(F.col("kind").isin("S", "E")).select(
        "seq", "kind", "xid", "first_segment"
    )


def pgoutput_stream_bounds(
    stream: DataFrame, *, data_col: str = "data", seq_col: str = "seq"
) -> DataFrame:
    """Map-only extraction of protocol-v2 S/E boundary rows — the
    shared front half of both the collected
    (:func:`pgoutput_stream_blocks`) and the distributed
    (:func:`pgoutput_stream_block_table`) pairing paths."""
    return _bound_rows(pgoutput_control_rows(stream, data_col=data_col, seq_col=seq_col))


def _pair_bound_rows(bounds: DataFrame) -> list[dict[str, Any]]:
    """Collect the S/E boundary rows and pair them sequentially by seq
    (driver-side half of the small-capture fast path). Torn captures
    fail loudly; a trailing open block closes at the sentinel and is
    marked ``truncated`` (see :func:`pgoutput_stream_blocks` for the
    semantics)."""
    blocks: list[dict[str, Any]] = []
    open_s: dict[str, Any] | None = None
    for r in sorted((r.asDict() for r in bounds.collect()), key=lambda r: r["seq"]):
        if r["kind"] == "S":
            if open_s is not None:
                raise PgoutputError(
                    f"stream block at seq {open_s['seq']} never closed "
                    f"before next start at seq {r['seq']}"
                )
            open_s = r
        else:
            if open_s is None:
                raise PgoutputError(f"stream stop at seq {r['seq']} without start")
            blocks.append(
                {
                    "xid": int(open_s["xid"]),
                    "start_seq": int(open_s["seq"]),
                    "end_seq": int(r["seq"]),
                    "first_segment": bool(open_s["first_segment"]),
                }
            )
            open_s = None
    if open_s is not None:
        blocks.append(
            {
                "xid": int(open_s["xid"]),
                "start_seq": int(open_s["seq"]),
                "end_seq": OPEN_BLOCK_END_SEQ,
                "first_segment": bool(open_s["first_segment"]),
                "truncated": True,
            }
        )
    return blocks


def pgoutput_stream_blocks(
    stream: DataFrame, *, data_col: str = "data", seq_col: str = "seq"
) -> list[dict[str, Any]]:
    """Collect protocol-v2 S…E block boundaries and pair them — the
    SMALL-CAPTURE fast path (a micro-batch, a bounded archive slice):
    O(#blocks) driver memory, zero extra shuffles downstream because
    membership becomes a broadcast bisect. For unbounded archive
    replay use :func:`pgoutput_stream_block_table` +
    :func:`pgoutput_attribute_stream` instead — S…E boundaries are
    O(#streamed transactions × segments), data-proportional, and a
    100-TB capture would OOM the driver here
    (:func:`decode_pgoutput` picks automatically via
    ``stream_block_collect_max``).

    Blocks never nest (protocol guarantee), so pairing is each 'S'
    with the next boundary, which MUST be an 'E' — an 'S' before the
    previous block closed, or an 'E' with no open block, means a torn
    capture and fails loudly rather than mis-attributing rows.

    A capture that simply ENDS with an open block is different: a
    live/tail capture cut mid-stream is an ordinary operational event
    (the v1 analog — a cut mid-transaction — degrades gracefully via
    commit gating). The trailing open block is closed at
    ``end_seq = +inf`` (sentinel) and marked ``truncated``; its rows
    still parse in streamed form and are then dropped by the missing
    StreamCommit, exactly like uncommitted v1 rows."""
    return _pair_bound_rows(
        pgoutput_stream_bounds(stream, data_col=data_col, seq_col=seq_col)
    )


def _ranked_by_seq(
    df: DataFrame, *, order_col: str = "seq"
) -> tuple[DataFrame, DataFrame]:
    """Global 1-based dense rank by ``order_col`` WITHOUT a
    single-partition window: repartitionByRange so partition id order
    == seq order, per-partition ``row_number`` (a partitioned window),
    and per-partition offsets prefix-summed on the driver —
    O(#partitions) driver work, a true constant, never O(#rows).
    The ranged layout is pinned (plans/lineage.py: reliable checkpoint
    when a checkpoint dir is configured, localCheckpoint otherwise) so
    the count job and the window job cannot see different shuffles.
    Returns ``(ranked, pinned)`` — the caller MUST release ``pinned``
    (``release_pinned``) once the ranked frame has been
    re-materialized behind its own barrier, or its storage blocks
    outlive the call (the graph.py peeling-loop leak pattern)."""
    from pyspark.sql import Window

    from ..plans.lineage import pin, release_pinned

    sess = df.sparkSession
    n = max(2, sess.sparkContext.defaultParallelism)
    d = pin(
        df.repartitionByRange(n, F.col(order_col)).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    try:
        counts = {
            r["_pid"]: r["cnt"]
            for r in d.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
    except BaseException:
        release_pinned(d)
        raise
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    if not offsets:
        return d.withColumn("_rank", F.lit(None).cast("long")).drop("_pid"), d
    off_df = sess.createDataFrame(offsets, "_pid INT, _off BIGINT")
    w = Window.partitionBy("_pid").orderBy(order_col)
    ranked = (
        d.join(F.broadcast(off_df), "_pid")
        .withColumn("_rank", F.row_number().over(w) + F.col("_off"))
        .drop("_pid", "_off")
    )
    return ranked, d


def pgoutput_stream_block_table(
    bounds: DataFrame,
) -> DataFrame:
    """DISTRIBUTED S↔E pairing — the archive-replay twin of
    :func:`pgoutput_stream_blocks` for captures whose boundary count
    is data-proportional (O(#streamed transactions × segments); a
    100-TB replay has millions). Input is the
    :func:`pgoutput_stream_bounds` output; result is a DataFrame of
    ``(xid, start_seq, end_seq, first_segment, truncated)`` blocks
    that never visits the driver.

    Non-nesting (protocol guarantee) makes pairing rank-based: the
    i-th 'S' by seq closes with the i-th 'E' by seq. Ranks come from
    :func:`_ranked_by_seq` (range-partitioned local row_number +
    driver prefix-sum of O(#partitions) counts), pairing is one
    equi-join on rank. The same torn-capture conditions the sequential
    pairer raises on are checked distributively with two counts-only
    jobs:

    - an 'E' whose rank has no 'S' → stop without start;
    - more than one unclosed 'S' → a block never closed;
    - a pair with ``end <= start``, or a pair whose end lies past the
      NEXT block's start (rank r+1) → interleaved/torn boundaries.

    The single allowed unclosed 'S' is the trailing truncated block,
    closed at the sentinel exactly like the fast path.

    The returned table is pinned behind its own lineage barrier and the
    two ranked intermediates are RELEASED before returning or raising —
    a session replaying many archive slices retains one compact block
    table per live result, not 3 checkpointed rank frames per call
    (ADVICE r9), and a torn capture leaves none behind."""
    from ..plans.lineage import pin, release_pinned

    rank_pins = []
    try:
        s_ranked, s_pin = _ranked_by_seq(bounds.filter(F.col("kind") == "S"))
        rank_pins.append(s_pin)
        s = s_ranked.select(
            F.col("_rank"),
            F.col("xid"),
            F.col("seq").alias("start_seq"),
            F.col("first_segment"),
        )
        e_ranked, e_pin = _ranked_by_seq(bounds.filter(F.col("kind") == "E"))
        rank_pins.append(e_pin)
        e = e_ranked.select(F.col("_rank"), F.col("seq").alias("end_seq"))
        paired = s.join(e, "_rank", "full_outer")
        nxt = s.select(
            (F.col("_rank") - 1).alias("_rank"), F.col("start_seq").alias("_next_start")
        )
        chk = (
            paired.join(nxt, "_rank", "left")
            .agg(
                F.sum(F.when(F.col("start_seq").isNull(), 1).otherwise(0)).alias("e_no_s"),
                F.sum(F.when(F.col("end_seq").isNull(), 1).otherwise(0)).alias("open_s"),
                F.sum(
                    F.when(F.col("end_seq") <= F.col("start_seq"), 1).otherwise(0)
                ).alias("inverted"),
                F.sum(
                    F.when(F.col("_next_start") < F.col("end_seq"), 1).otherwise(0)
                ).alias("interleaved"),
            )
            .collect()[0]
        )
        if (chk["e_no_s"] or 0) > 0:
            raise PgoutputError("stream stop without start (distributed pairing)")
        if (chk["open_s"] or 0) > 1 or (chk["inverted"] or 0) > 0 or (
            chk["interleaved"] or 0
        ) > 0:
            raise PgoutputError(
                "stream block never closed before the next started "
                "(distributed pairing)"
            )
        return pin(
            paired.select(
                "xid",
                "start_seq",
                F.coalesce(F.col("end_seq"), F.lit(OPEN_BLOCK_END_SEQ)).alias("end_seq"),
                "first_segment",
                F.col("end_seq").isNull().alias("truncated"),
            )
        )
    finally:
        # the rank frames back nothing once the block table is pinned,
        # and a torn capture must not leave them behind either
        for p in rank_pins:
            release_pinned(p)


def pgoutput_attribute_stream(
    stream: DataFrame,
    block_table: DataFrame,
    *,
    data_col: str = "data",
    seq_col: str = "seq",
    bucket_width: int = 4096,
    attr_col: str = "_blk_xid",
) -> DataFrame:
    """Stamp every stream row with the toplevel xid of the S…E block
    it sits STRICTLY inside (null outside any block) — the distributed
    replacement for the collect+broadcast-bisect membership test.

    Shape: the slim (seq) projection rides the bucketized
    ``interval_join`` against the block table (one shuffle of seq-only
    rows + replicated block intervals, never a cartesian), then ONE
    equi-join on seq decorates the full stream. That single data-plane
    shuffle is the price of dropping the driver-side block list; the
    broadcast alternative is driver-fatal at archive scale
    (VERDICT r8 'What's wrong' #1). Truncated trailing blocks carry
    the +inf sentinel end — it is clamped to the capture's max seq
    before bucketization so the interval replication stays bounded."""
    from ..operators.rangejoin import interval_join

    inside = block_table.select(
        F.col("xid").alias(attr_col),
        (F.col("start_seq") + F.lit(1)).alias("_bs"),
        (F.col("end_seq") - F.lit(1)).alias("_be"),
    )
    # clamp sentinel ends (truncated trailing block) so explode-to-
    # buckets never materializes 2^62/width replicas. Unconditional and
    # LAZY: a 1-row max-seq aggregate broadcast-crossed in (closed
    # blocks always end ≤ max seq, so the clamp is a no-op for them) —
    # no eager plan-build jobs, no second pass over the pairing lineage
    # (ADVICE r9 low, pgoutput.py:1476).
    max_seq = stream.agg(F.max(F.col(seq_col)).cast("long").alias("_max_seq"))
    inside = (
        inside.crossJoin(F.broadcast(max_seq))
        .withColumn("_be", F.least(F.col("_be"), F.col("_max_seq")))
        .drop("_max_seq")
    )
    inside = inside.filter(F.col("_bs") <= F.col("_be")).withColumn("_k", F.lit(1))
    pts = stream.select(seq_col).withColumn("_k", F.lit(1))
    attr = interval_join(
        pts,
        inside,
        by="_k",
        point_col=seq_col,
        start_col="_bs",
        end_col="_be",
        bucket_width=bucket_width,
        how="inner",
    ).select(seq_col, attr_col)
    return stream.join(attr, on=seq_col, how="left")


def _prepared_table(ctl: DataFrame) -> DataFrame:
    """Two-phase rows of the parsed control rows → one row per prepared
    transaction (see :func:`pgoutput_prepared_tx_table`)."""
    begins = ctl.filter(F.col("kind") == "b").select(
        "xid", "gid", F.col("seq").alias("begin_seq")
    )
    preps = ctl.filter(F.col("kind") == "P").select(
        F.col("gid").alias("_pg"), F.col("seq").alias("prepare_seq")
    )
    outcomes = ctl.filter(F.col("kind").isin("K", "r")).select(
        F.col("gid").alias("_og"),
        F.when(F.col("kind") == "K", F.lit("commit")).otherwise(F.lit("rollback")).alias("outcome"),
        F.col("seq").alias("outcome_seq"),
        F.when(F.col("kind") == "K", _ts_ms("ts_us")).alias("commit_ts_ms"),
    )
    return (
        begins.join(preps, begins.gid == preps._pg, "inner")
        .join(outcomes, begins.gid == outcomes._og, "left")
        .select(
            "xid", "gid", "begin_seq", "prepare_seq",
            "outcome", "outcome_seq", "commit_ts_ms",
        )
    )


def pgoutput_prepared_tx_table(
    stream: DataFrame, *, data_col: str = "data", seq_col: str = "seq"
) -> DataFrame:
    """Two-phase control rows (b/P/K/r) → one row per prepared
    transaction: ``(xid, gid, begin_seq, prepare_seq, outcome,
    outcome_seq, commit_ts_ms)`` with outcome ``'commit'`` /
    ``'rollback'`` / null (still pending — the decision hasn't arrived
    in this capture). Order-free: Begin Prepare pairs with Prepare on
    gid, the decision joins on gid too — #prepared-tx rows, never
    #event rows. PG guarantees a gid is unique among in-flight
    prepared transactions; a capture long enough to see gid REUSE
    (commit then a new prepare under the same gid) must be split at a
    decision boundary first."""
    return _prepared_table(pgoutput_control_rows(stream, data_col=data_col, seq_col=seq_col))


def _stamp_intervals(
    dml: DataFrame, intervals: DataFrame, *, bucket_width: int, keep_uncommitted: bool
) -> DataFrame:
    """Stamp each DML row with the transaction whose interval contains
    its seq (``begin_seq <= seq <= commit_seq``): one bucketized
    interval join (operators/rangejoin.py) over the union of every
    interval table the capture has — B…C transactions and committed
    b…P prepared ones. The intervals are disjoint in seq space (PG's
    reorder buffer emits each transaction contiguously), so no row is
    emitted twice. Scales with #tx, no ordering assumption, no
    cartesian.

    ``keep_uncommitted``: a capture cut mid-transaction leaves DML with
    a Begin but no Commit; the default inner join drops those rows
    (commit-gated emission). The reference's sequential reader emits
    rows as they arrive, BEFORE the commit (postgres_event.rs
    handle_insert → send_event) — True makes it a left join for that
    parity: orphaned rows survive with a null xid/commit_ts/gid so a
    downstream gate can quarantine instead of silently losing them."""
    from ..operators.rangejoin import interval_join

    one = F.lit(1)
    return interval_join(
        dml.withColumn("_k", one),
        intervals.withColumn("_k", one),
        by="_k",
        point_col="seq",
        start_col="begin_seq",
        end_col="commit_seq",
        bucket_width=bucket_width,
        how="left" if keep_uncommitted else "inner",
    ).drop("_k", "begin_seq", "commit_seq")


def _gate_streamed(sv: DataFrame, ctl: DataFrame, census: dict[str, int]) -> DataFrame:
    """Commit-gate streamed DML rows (``stream_xid`` set): a streamed
    tx commits either directly (StreamCommit 'c') or, with two_phase
    on, via Stream Prepare ('p') + COMMIT PREPARED ('K', joined on
    gid) — both land in one (xid, commit time, gid) table, joined on
    the block's toplevel xid. Rows of a rolled-back subtransaction
    (StreamAbort 'A', keyed by the message's own xid) are discarded;
    a streamed tx with no commit, or a rolled-back or pending
    streamed-prepared one, never emits."""
    commits = ctl.filter(F.col("kind") == "c").select("xid", "ts_us", "gid")
    if census["p"]:
        preps = ctl.filter(F.col("kind") == "p").select("xid", F.col("gid").alias("_pg"))
        decided = ctl.filter(F.col("kind") == "K").select("gid", "ts_us")
        commits = commits.unionByName(
            preps.join(decided, preps._pg == decided.gid).select("xid", "ts_us", "gid")
        )
    out = sv.join(
        commits.select(F.col("xid").alias("_cxid"), "ts_us", "gid"),
        sv.stream_xid == F.col("_cxid"),
        "inner",
    )
    if census["A"]:
        aborted = ctl.filter(F.col("kind") == "A").select(F.col("subxid").alias("_axid"))
        out = out.join(aborted, sv.msg_xid == F.col("_axid"), "left_anti")
    return out.select(
        *DML_SCHEMA.names,
        F.col("stream_xid").alias("xid"),
        _ts_ms("ts_us").alias("commit_ts_ms"),
        "gid",
    )


def _tag_census(ctrl: DataFrame, data_col: str) -> dict[str, int]:
    """Count the pinned control rows per first-byte tag in one JVM-only
    job — a ``noop`` write under an observation, which also
    materializes the pin for every later pass — and reject NULL or
    empty payloads loudly: every tag prefilter downstream would
    otherwise drop them before a Python-side check could see them."""
    from pyspark.sql import Observation

    d = f"`{data_col}`"
    census = Observation()
    ctrl.observe(
        census,
        F.expr(f"count_if({d} IS NULL OR length({d}) = 0)").alias("bad"),
        *[
            F.expr(f"count_if(substring({d}, 1, 1) = X'{t:02X}')").alias(f"t{t}")
            for t in CONTROL_TAGS
        ],
    ).write.format("noop").mode("overwrite").save()
    counts = census.get
    if counts["bad"]:
        raise PgoutputError(
            f"capture has {counts['bad']} row(s) with a NULL or empty payload"
        )
    return {chr(t): counts[f"t{t}"] for t in CONTROL_TAGS}


def decode_pgoutput(
    stream: DataFrame,
    *,
    data_col: str = "data",
    seq_col: str = "seq",
    tx_bucket_width: int = 256,
    keep_uncommitted: bool = False,
    stream_block_collect_max: int = 65536,
    block_bucket_width: int = 4096,
) -> DataFrame:
    """The pgoutput decoder: relation catalog → map-only DML decode →
    transaction stamping, for every transaction shape a capture can
    hold — plain B…C (protocol v1), streamed in-progress S…E blocks
    (protocol v2, PG 14+ ``streaming = on``) and two-phase b…P with
    the K/r decision later (PG 15 ``two_phase``), streamed-prepared
    ('p') included.

    The control rows (every tag in :data:`CONTROL_TAGS`, plus rows with
    a NULL or empty payload) are pinned once, and one JVM-side tag
    census over the pin decides which branches exist — the shape of
    the capture, not the caller, picks the work:

    - S/E rows: block attribution. Up to ``stream_block_collect_max``
      boundaries (a micro-batch, a bounded slice) collect and pair on
      the driver and membership is a broadcast bisect; above it
      (archive replay — S…E boundaries are O(#streamed txs ×
      segments)) the rank-paired block table
      (:func:`pgoutput_stream_block_table`) attributes rows with one
      bucketized interval join (:func:`pgoutput_attribute_stream`),
      never building a driver-side block list. Streamed rows then
      gate on StreamCommit or p+K, and StreamAbort discards
      rolled-back subtransactions;
    - b/P rows: committed b…P intervals join the B…C ones in the one
      stamping join; rolled-back and pending prepared txs never emit;
    - NULL or empty payloads raise :class:`PgoutputError`.

    A plain B…C capture thus plans exactly the v1 pipeline: the catalog
    collect, the DML parse, the control parse and one interval join.
    The DML parse is persisted only when both the plain and the
    streamed branch read it. Output: ``seq, lsn, relation_id, op,
    schema, table, before, after, n_bytes, xid, commit_ts_ms, gid``
    (gid null unless the transaction was prepared).

    Storage: the control pin (plus the DML persist and the distributed
    block table when built) backs the result until the caller's
    ``pin_scope`` closes. On any raise every pin taken so far is
    released first, so callers with no scope leak nothing either."""
    from ..plans.lineage import persist, release_pinned

    ctrl = _control_plane_pin(stream, data_col, seq_col)
    pins = [ctrl]
    try:
        census = _tag_census(ctrl, data_col)
        ctl = pgoutput_control_rows(ctrl, data_col=data_col, seq_col=seq_col)
        n_bounds = census["S"] + census["E"]
        src, blocks, attr = stream, None, None
        if 0 < n_bounds <= stream_block_collect_max:
            blocks = _pair_bound_rows(_bound_rows(ctl))
        elif n_bounds:
            pins.append(pgoutput_stream_block_table(_bound_rows(ctl)))
            attr = "_blk_xid"
            src = pgoutput_attribute_stream(
                stream, pins[-1], data_col=data_col, seq_col=seq_col,
                bucket_width=block_bucket_width, attr_col=attr,
            )
        # blocks FIRST: 'R' messages inside S…E blocks are xid-prefixed
        # too (PG's maybe_send_schema runs in-stream) — without block
        # membership the xid bytes would be misread as the relation_id
        relations = pgoutput_relation_catalog(
            ctrl if attr is None else src, data_col=data_col, seq_col=seq_col,
            stream_blocks=blocks, attr_col=attr,
        )
        dml = decode_pgoutput_dml(
            src, relations, data_col=data_col, seq_col=seq_col,
            stream_blocks=blocks, attr_col=attr,
        )
        intervals = _tx_intervals(ctl)
        if census["b"] or census["P"]:
            intervals = intervals.unionByName(
                _prepared_table(ctl).filter(F.col("outcome") == "commit").select(
                    "xid", "begin_seq", F.col("prepare_seq").alias("commit_seq"),
                    "commit_ts_ms", "gid",
                )
            )
        stamp = dict(bucket_width=tx_bucket_width, keep_uncommitted=keep_uncommitted)
        if not n_bounds:
            return _stamp_intervals(dml, intervals, **stamp)
        # both branches below read the DML parse (the one expensive
        # Python pass over the capture): a persist makes them share ONE
        # InMemoryRelation computed inside the final job
        dml = persist(dml)
        pins.append(dml)
        plain = dml.filter(F.col("stream_xid").isNull()).drop("stream_xid", "msg_xid")
        streamed = _gate_streamed(dml.filter(F.col("stream_xid").isNotNull()), ctl, census)
        return _stamp_intervals(plain, intervals, **stamp).unionByName(streamed)
    except BaseException:
        for p in pins:
            release_pinned(p)
        raise


MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("prefix", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("after", T.StringType()),
        T.StructField("transactional", T.BooleanType()),
    ]
)

#: schema sentinels (reference postgres_logical_message.rs:17-19 and
#: deltaforge_config OUTBOX_SCHEMA_SENTINEL)
OUTBOX_SCHEMA_SENTINEL = "__outbox"
WAL_MESSAGE_SCHEMA = "__wal_message"


def decode_pgoutput_messages(
    stream: DataFrame,
    *,
    outbox_prefixes: list[str] | None = None,
    data_col: str = "data",
    seq_col: str = "seq",
) -> DataFrame:
    """'M' logical-decoding messages → synthetic events (reference
    postgres_logical_message.rs to_event): JSON content becomes the
    after image; a prefix matching the outbox allow-list is tagged
    ``__outbox`` for the OutboxProcessor, anything else
    ``__wal_message``; non-JSON content is warn-skipped. Map-only; tx
    stamping composes via the same interval join
    :func:`decode_pgoutput` uses when needed."""
    from ..patterns import AllowList

    allow = AllowList(outbox_prefixes or [])
    bc = stream.sparkSession.sparkContext.broadcast(allow)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        al = bc.value
        for pdf in batches:
            rows = []
            for seq, data in zip(pdf[seq_col], pdf[data_col]):
                b = bytes(data)
                if b[:1] != b"M":
                    continue
                m = parse_message(b)
                try:
                    after = json.loads(m["content"].decode("utf-8"))
                except (ValueError, UnicodeDecodeError):
                    continue  # reference warn-and-skip (:39-44)
                is_outbox = bool(outbox_prefixes) and al.matches_name(m["prefix"])
                rows.append(
                    (
                        int(seq),
                        m["lsn"],
                        m["prefix"],
                        OUTBOX_SCHEMA_SENTINEL if is_outbox else WAL_MESSAGE_SCHEMA,
                        json.dumps(after, sort_keys=True),
                        m["transactional"],
                    )
                )
            yield pd.DataFrame(
                rows, columns=["seq", "lsn", "prefix", "schema", "after", "transactional"]
            )

    return (
        _tag_prefilter(stream, data_col, b"M")
        .select(seq_col, data_col)
        .mapInPandas(scan, MESSAGE_SCHEMA)
    )


TRUNCATE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("cascade", T.BooleanType()),
        T.StructField("restart_identity", T.BooleanType()),
    ]
)


def decode_pgoutput_truncates(
    stream: DataFrame,
    relations: list[dict[str, Any]],
    *,
    data_col: str = "data",
    seq_col: str = "seq",
) -> DataFrame:
    """'T' messages → one DDL-style row per truncated table (the
    reference emits one `new_ddl` event per table with cascade /
    restart_identity flags, postgres_event.rs:645-731). Map-only."""
    # latest announcement wins deterministically (names rarely change,
    # but the catalog may carry several versions per relation). seq 0
    # is a REAL announcement position — only a missing seq coerces to
    # the -1 sentinel (same rule as decode_pgoutput_dml's catalog).
    catalog: dict[int, tuple[str, str]] = {}
    for r in sorted(
        relations, key=lambda r: -1 if r.get("seq") is None else int(r["seq"])
    ):
        catalog[int(r["relation_id"])] = (r["schema"], r["table"])
    bc = stream.sparkSession.sparkContext.broadcast(catalog)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cat = bc.value
        for pdf in batches:
            rows = []
            for seq, data in zip(pdf[seq_col], pdf[data_col]):
                b = bytes(data)
                if b[:1] != b"T":
                    continue
                m = parse_message(b)
                for rid in m["relation_ids"]:
                    rel = cat.get(rid)
                    if rel is None:
                        continue  # unknown relation: warn-and-skip parity
                    rows.append(
                        (int(seq), rel[0], rel[1], m["cascade"], m["restart_identity"])
                    )
            yield pd.DataFrame(
                rows, columns=["seq", "schema", "table", "cascade", "restart_identity"]
            )

    return (
        _tag_prefilter(stream, data_col, b"T")
        .select(seq_col, data_col)
        .mapInPandas(scan, TRUNCATE_SCHEMA)
    )


def pgoutput_change_feed(
    stream: DataFrame,
    image_schema: T.StructType,
    *,
    pipeline: str = "cdc",
    data_col: str = "data",
    seq_col: str = "seq",
    tx_bucket_width: int = 256,
) -> DataFrame:
    """Wire decode → the canonical CDC envelope (the postgres twin of
    ``binlog.binlog_change_feed``): decoded DML rows with typed images,
    per-row source block (connector=postgresql, sequence=LSN), the
    stamped transaction id and its commit time as ts_ms — the
    reference's handle_insert/update/delete → Event::new_row flow
    (postgres_event.rs:395-644)."""
    from ..envelope import finish_envelope

    dec = decode_pgoutput(
        stream, data_col=data_col, seq_col=seq_col, tx_bucket_width=tx_bucket_width
    )
    before = F.from_json(F.col("before"), image_schema)
    after = F.from_json(F.col("after"), image_schema)
    out = dec.select(
        F.col("op"),
        F.col("commit_ts_ms").alias("ts_ms"),
        before.alias("before"),
        after.alias("after"),
        F.struct(
            F.lit("postgresql").alias("connector"),
            F.lit(pipeline).alias("name"),
            F.col("schema").alias("db"),
            F.col("schema").alias("schema"),
            F.col("table").alias("table"),
            F.lit(False).alias("snapshot"),
            F.col("lsn").alias("sequence"),
        ).alias("source"),
        F.concat_ws(":", F.col("xid").cast("string"), F.col("seq").cast("string")).alias(
            "event_id"
        ),
        F.lit(None).cast("string").alias("tenant_id"),
        F.struct(
            F.col("xid").cast("string").alias("id"),
            F.lit(None).cast("long").alias("total_order"),
            F.lit(None).cast("long").alias("data_collection_order"),
        ).alias("transaction"),
        F.lit(None).cast("boolean").alias("tx_end"),
    )
    return finish_envelope(out)


RELATION_VERSION_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("relation_id", T.LongType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("columns_json", T.StringType()),
    ]
)


def relation_drift(
    stream: DataFrame,
    *,
    data_col: str = "data",
    seq_col: str = "seq",
    stream_blocks: list[dict[str, Any]] | None = None,
    attr_col: str | None = None,
) -> DataFrame:
    """Schema-change detection over 'R' messages — the distributed twin
    of the reference's re-map check (handle_relation → columns_differ →
    LoopControl::ReloadSchema, postgres_event.rs:289-312, 338-360): a
    relation re-announced with different columns (name, oid, or count)
    emits one drift row carrying both versions. Map-only extraction of
    the (tiny) relation-message stream + one lag() window per
    relation_id — the data plane never participates.

    ``stream_blocks``: protocol-v2 captures announce relations inside
    S…E blocks too (xid-prefixed) — pass :func:`pgoutput_stream_blocks`
    output, same as :func:`pgoutput_relation_catalog`; or ``attr_col``
    naming a :func:`pgoutput_attribute_stream` block-xid column for
    the distributed membership path."""
    from pyspark.sql import Window

    blocks = _block_intervals(stream_blocks)
    bc = stream.sparkSession.sparkContext.broadcast(blocks)
    use_attr = attr_col is not None

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from bisect import bisect_right

        blks = bc.value
        starts = [blk[0] for blk in blks]
        def emit(rows, seq, m):
            cols = [
                {"name": c["name"], "type_oid": c["type_oid"]}
                for c in m["columns"]
            ]
            rows.append(
                (
                    seq, m["relation_id"], m["schema"], m["table"],
                    json.dumps(cols, sort_keys=True),
                )
            )

        # use_attr hoisted: no third zip column / per-row branch on v1
        for pdf in batches:
            rows = []
            if use_attr:
                for seq, data, attr in zip(
                    pdf[seq_col], pdf[data_col], pdf[attr_col]
                ):
                    b = bytes(data)
                    if b[:1] != b"R":
                        continue
                    m = parse_message(b, in_stream=bool(pd.notna(attr)))
                    emit(rows, int(seq), m)
            else:
                for seq, data in zip(pdf[seq_col], pdf[data_col]):
                    b = bytes(data)
                    if b[:1] != b"R":
                        continue
                    seq = int(seq)
                    in_stream = False
                    if blks:
                        bi = bisect_right(starts, seq) - 1
                        in_stream = bi >= 0 and seq < blks[bi][1]
                    m = parse_message(b, in_stream=in_stream)
                    emit(rows, seq, m)
            yield pd.DataFrame(
                rows,
                columns=["seq", "relation_id", "schema", "table", "columns_json"],
            )

    in_cols = [seq_col, data_col] + ([attr_col] if use_attr else [])
    rels = (
        _tag_prefilter(stream, data_col, b"R")
        .select(*in_cols)
        .mapInPandas(scan, RELATION_VERSION_SCHEMA)
    )
    w = Window.partitionBy("relation_id").orderBy("seq")
    prev = F.lag("columns_json").over(w)
    return (
        rels.withColumn("_prev", prev)
        .filter(F.col("_prev").isNotNull() & (F.col("_prev") != F.col("columns_json")))
        .select(
            "seq", "relation_id", "schema", "table",
            F.col("_prev").alias("columns_before"),
            F.col("columns_json").alias("columns_after"),
        )
    )
