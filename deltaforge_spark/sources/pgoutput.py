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

from pyspark.sql import DataFrame, SparkSession
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

TX_PART_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("lsn_key", T.LongType()),
        T.StructField("xid", T.LongType()),
        T.StructField("commit_ts_us", T.LongType()),
    ]
)


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
    hexes = ", ".join(f"X'{t:02X}'" for t in tags)
    return stream.where(F.expr(f"substring(`{data_col}`, 1, 1) IN ({hexes})"))


def _control_plane_pin(
    stream: DataFrame, data_col: str, seq_col: str, tags: bytes
) -> DataFrame:
    """Materialize the control rows ONCE and feed every control-plane
    pass from the pinned subset (guide §1.2 — don't recompute: the
    v2 decode ran up to SIX tag-selective passes, each re-scanning the
    ENTIRE capture to keep ~2 control rows per transaction; at archive
    scale that multiplies the dominant I/O term by the pass count).
    The pin is control-plane-sized (#control rows, never #events), and
    it is a PERSIST, not a checkpoint: it materializes inside the
    first job that already scans it (no extra materialization job —
    the eager-checkpoint form measured ~0.5 s/query of pure job
    latency at sf0.1), and every later pass reads the cache. Caller
    owns release (``release_pinned`` handles cached frames) — decode
    entry points retain it on their result."""
    ctrl = _tag_prefilter(stream, data_col, tags).select(seq_col, data_col)
    ctrl.persist()
    return ctrl


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
    first_byte_prefilter: bool = True,
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
    # Python-side tag check stays as a cheap invariant guard.
    # (``first_byte_prefilter=False`` is the paired-A/B knob: identical
    # decode with control rows crossing Arrow, for measuring the win.)
    dml_only = stream.select(*in_cols)
    if first_byte_prefilter:
        dml_only = dml_only.where(
            F.expr(f"substring(`{data_col}`, 1, 1) IN (X'49', X'55', X'44')")
        )
    return dml_only.mapInPandas(run, DML_V2_SCHEMA if v2 else DML_SCHEMA)


def pgoutput_tx_table(stream: DataFrame, *, data_col: str = "data", seq_col: str = "seq") -> DataFrame:
    """Order-free transaction reconstruction: Begin rows pair with
    Commit rows on the commit LSN both sides carry (B.final_lsn ==
    C.commit_lsn — that is what the field is for), yielding
    (xid, begin_seq, commit_seq, commit_ts_ms). One small groupBy-free
    equi-join; #tx rows, never #event rows."""

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for seq, data in zip(pdf[seq_col], pdf[data_col]):
                b = bytes(data)
                tag = b[:1]
                if tag == b"B":
                    m = parse_message(b)
                    rows.append(("B", int(seq), m["final_lsn"], m["xid"], m["commit_ts_us"]))
                elif tag == b"C":
                    m = parse_message(b)
                    rows.append(("C", int(seq), m["commit_lsn"], None, m["commit_ts_us"]))
            yield pd.DataFrame(
                rows, columns=["kind", "seq", "lsn_key", "xid", "commit_ts_us"]
            )

    parts = (
        _tag_prefilter(stream, data_col, b"BC")
        .select(seq_col, data_col)
        .mapInPandas(scan, TX_PART_SCHEMA)
    )
    begins = (
        parts.filter(F.col("kind") == "B")
        .select(
            F.col("seq").alias("begin_seq"),
            F.col("lsn_key"),
            F.col("xid"),
            F.col("commit_ts_us"),
        )
    )
    commits = parts.filter(F.col("kind") == "C").select(
        F.col("seq").alias("commit_seq"), F.col("lsn_key")
    )
    return begins.join(commits, "lsn_key").select(
        "xid",
        "begin_seq",
        "commit_seq",
        # integer DIV, not `/`: µs-since-2000 values exceed double's
        # exact range within this century (same rule as the epoch-nanos
        # handling in changefeed/binlog)
        (F.expr("CAST(commit_ts_us DIV 1000 AS BIGINT)") + F.lit(PG_EPOCH_UNIX_MS)).alias(
            "commit_ts_ms"
        ),
    )


#: end_seq sentinel for a trailing block the capture cut before its 'E'
#: — beyond any real seq, so bisect membership stays a plain `<` test
OPEN_BLOCK_END_SEQ = 1 << 62

STREAM_BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("xid", T.LongType()),
        T.StructField("first_segment", T.BooleanType()),
    ]
)


def pgoutput_stream_bounds(
    stream: DataFrame, *, data_col: str = "data", seq_col: str = "seq"
) -> DataFrame:
    """Map-only extraction of protocol-v2 S ('Stream Start') and E
    ('Stream Stop') boundary rows: ``(seq, kind, xid, first_segment)``.
    One pass over the capture, no shuffle — the shared front half of
    both the collected (:func:`pgoutput_stream_blocks`) and the
    distributed (:func:`pgoutput_stream_block_table`) pairing paths."""

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for seq, data in zip(pdf[seq_col], pdf[data_col]):
                b = bytes(data)
                tag = b[:1]
                if tag == b"S":
                    m = parse_message(b)
                    rows.append((int(seq), "S", m["xid"], m["first_segment"]))
                elif tag == b"E":
                    rows.append((int(seq), "E", None, None))
            yield pd.DataFrame(
                rows, columns=["seq", "kind", "xid", "first_segment"]
            )

    return (
        _tag_prefilter(stream, data_col, b"SE")
        .select(seq_col, data_col)
        .mapInPandas(scan, STREAM_BLOCK_SCHEMA)
    )


def _pair_bound_rows(bounds: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """Sequential S↔E pairing over an already-collected, seq-sorted
    boundary list (driver-side half of the small-capture fast path).
    Torn captures fail loudly; a trailing open block closes at the
    sentinel and is marked ``truncated`` (see
    :func:`pgoutput_stream_blocks` for the semantics)."""
    blocks: list[dict[str, Any]] = []
    open_s: dict[str, Any] | None = None
    for r in bounds:
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
    (:func:`decode_pgoutput_v2` picks automatically via
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
    bounds = sorted(
        (
            r.asDict()
            for r in pgoutput_stream_bounds(
                stream, data_col=data_col, seq_col=seq_col
            ).collect()
        ),
        key=lambda r: r["seq"],
    )
    return _pair_bound_rows(bounds)


BLOCK_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("xid", T.LongType()),
        T.StructField("start_seq", T.LongType()),
        T.StructField("end_seq", T.LongType()),
        T.StructField("first_segment", T.BooleanType()),
        T.StructField("truncated", T.BooleanType()),
    ]
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
    (``release_local_checkpoint``) once the ranked frame has been
    re-materialized behind its own barrier, or its storage blocks
    outlive the call (the graph.py peeling-loop leak pattern)."""
    from pyspark.sql import Window

    from ..plans.lineage import pin

    sess = df.sparkSession
    n = max(2, sess.sparkContext.defaultParallelism)
    d = pin(
        df.repartitionByRange(n, F.col(order_col)).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in d.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
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
    two ranked intermediates are RELEASED before returning — a session
    replaying many archive slices retains one compact block table per
    live result, not 3 checkpointed rank frames per call (ADVICE r9)."""
    from ..plans.lineage import pin, release_local_checkpoint

    s_ranked, s_pin = _ranked_by_seq(bounds.filter(F.col("kind") == "S"))
    s = s_ranked.select(
        F.col("_rank"),
        F.col("xid"),
        F.col("seq").alias("start_seq"),
        F.col("first_segment"),
    )
    e_ranked, e_pin = _ranked_by_seq(bounds.filter(F.col("kind") == "E"))
    e = e_ranked.select(F.col("_rank"), F.col("seq").alias("end_seq"))
    paired = s.join(e, "_rank", "full_outer")
    nxt = s.select((F.col("_rank") - 1).alias("_rank"), F.col("start_seq").alias("_next_start"))
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
    out = pin(
        paired.select(
            "xid",
            "start_seq",
            F.coalesce(F.col("end_seq"), F.lit(OPEN_BLOCK_END_SEQ)).alias("end_seq"),
            "first_segment",
            F.col("end_seq").isNull().alias("truncated"),
        )
    )
    release_local_checkpoint(s_pin)
    release_local_checkpoint(e_pin)
    return out


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


STREAM_TX_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("xid", T.LongType()),
        T.StructField("subxid", T.LongType()),
        T.StructField("commit_seq", T.LongType()),
        T.StructField("commit_ts_us", T.LongType()),
    ]
)


def _pgoutput_stream_ctrl(
    stream: DataFrame, *, data_col: str = "data", seq_col: str = "seq"
) -> DataFrame:
    """Map-only extraction of StreamCommit ('c') / StreamAbort ('A')
    control rows — #streamed-tx rows, never #event rows."""

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for seq, data in zip(pdf[seq_col], pdf[data_col]):
                b = bytes(data)
                tag = b[:1]
                if tag == b"c":
                    m = parse_message(b)
                    rows.append(("c", m["xid"], None, int(seq), m["commit_ts_us"]))
                elif tag == b"A":
                    m = parse_message(b)
                    rows.append(("A", m["xid"], m["subxid"], int(seq), None))
            yield pd.DataFrame(
                rows, columns=["kind", "xid", "subxid", "commit_seq", "commit_ts_us"]
            )

    return (
        _tag_prefilter(stream, data_col, b"cA")
        .select(seq_col, data_col)
        .mapInPandas(scan, STREAM_TX_SCHEMA)
    )


def pgoutput_stream_tx_table(
    stream: DataFrame, *, data_col: str = "data", seq_col: str = "seq"
) -> DataFrame:
    """StreamCommit rows → (xid, commit_seq, commit_ts_ms). Unlike v1
    Begin/Commit (paired via LSN interval), streamed rows already carry
    their xid inline — commit gating is a plain equi-join on xid."""
    ctrl = _pgoutput_stream_ctrl(stream, data_col=data_col, seq_col=seq_col)
    return ctrl.filter(F.col("kind") == "c").select(
        "xid",
        "commit_seq",
        (
            F.expr("CAST(commit_ts_us DIV 1000 AS BIGINT)") + F.lit(PG_EPOCH_UNIX_MS)
        ).alias("commit_ts_ms"),
    )


def pgoutput_stream_aborts(
    stream: DataFrame, *, data_col: str = "data", seq_col: str = "seq"
) -> DataFrame:
    """StreamAbort rows → (xid, subxid): discard every streamed row
    whose ``msg_xid`` equals an aborted subxid (subxid == xid when the
    whole transaction rolled back — in which case the missing
    StreamCommit already gates the rows out; the subxid path covers
    partial subtransaction rollbacks inside a committed tx)."""
    ctrl = _pgoutput_stream_ctrl(stream, data_col=data_col, seq_col=seq_col)
    return ctrl.filter(F.col("kind") == "A").select("xid", "subxid")


def pgoutput_stream_prepared_commits(
    stream: DataFrame, *, data_col: str = "data", seq_col: str = "seq"
) -> DataFrame:
    """Streamed TWO-PHASE transactions (PG 15 ``streaming=on`` +
    ``two_phase``): a large prepared transaction travels as S…E
    fragments closed by Stream Prepare ('p', carrying xid AND gid)
    instead of StreamCommit; the decision arrives later as COMMIT
    PREPARED ('K', gid). Output ``(xid, commit_seq, commit_ts_ms)`` —
    the same shape as :func:`pgoutput_stream_tx_table`, so the v2
    decoder treats a decided streamed-prepared tx exactly like a
    streamed-committed one (rolled-back and pending ones simply never
    appear, which gates their rows out)."""

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for seq, data in zip(pdf[seq_col], pdf[data_col]):
                b = bytes(data)
                tag = b[:1]
                if tag not in (b"p", b"K"):
                    continue
                m = parse_message(b)
                rows.append(
                    (
                        tag.decode(), int(seq), m["xid"], m["gid"],
                        m.get("commit_ts_us"),
                    )
                )
            yield pd.DataFrame(rows, columns=["kind", "seq", "xid", "gid", "ts_us"])

    parts = (
        _tag_prefilter(stream, data_col, b"pK")
        .select(seq_col, data_col)
        .mapInPandas(scan, PREPARED_PART_SCHEMA)
    )
    preps = parts.filter(F.col("kind") == "p").select("xid", "gid")
    commits = parts.filter(F.col("kind") == "K").select(
        F.col("gid").alias("_kg"),
        F.col("seq").alias("commit_seq"),
        (
            F.expr("CAST(ts_us DIV 1000 AS BIGINT)") + F.lit(PG_EPOCH_UNIX_MS)
        ).alias("commit_ts_ms"),
    )
    return preps.join(commits, preps.gid == commits._kg, "inner").select(
        "xid", "commit_seq", "commit_ts_ms"
    )


def _prepared_parts(
    stream: DataFrame,
    *,
    data_col: str = "data",
    seq_col: str = "seq",
    mark_stream: bool = False,
) -> DataFrame:
    """Map-only extraction of two-phase control rows (b/P/K/r) —
    #prepared-tx rows, never #event rows. ``mark_stream`` additionally
    emits a marker row per 'S' (Stream Start) so a caller that must
    PROVE the capture has no v2 blocks gets that fact from the same
    single pass instead of paying a second scan."""
    tags = (b"b", b"P", b"K", b"r") + ((b"S",) if mark_stream else ())

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for seq, data in zip(pdf[seq_col], pdf[data_col]):
                b = bytes(data)
                tag = b[:1]
                if tag not in tags:
                    continue
                if tag == b"S":
                    rows.append(("S", int(seq), None, None, None))
                    continue
                m = parse_message(b)
                ts = m.get("commit_ts_us", m.get("prepare_ts_us"))
                rows.append((tag.decode(), int(seq), m["xid"], m["gid"], ts))
            yield pd.DataFrame(rows, columns=["kind", "seq", "xid", "gid", "ts_us"])

    return (
        _tag_prefilter(stream, data_col, b"".join(tags))
        .select(seq_col, data_col)
        .mapInPandas(scan, PREPARED_PART_SCHEMA)
    )


PREPARED_PART_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("xid", T.LongType()),
        T.StructField("gid", T.StringType()),
        T.StructField("ts_us", T.LongType()),
    ]
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
    parts = _prepared_parts(stream, data_col=data_col, seq_col=seq_col)
    return _prepared_table_from_parts(parts)


def _prepared_table_from_parts(parts: DataFrame) -> DataFrame:
    begins = parts.filter(F.col("kind") == "b").select(
        "xid", "gid", F.col("seq").alias("begin_seq")
    )
    preps = parts.filter(F.col("kind") == "P").select(
        F.col("gid").alias("_pg"), F.col("seq").alias("prepare_seq")
    )
    outcomes = parts.filter(F.col("kind").isin("K", "r")).select(
        F.col("gid").alias("_og"),
        F.when(F.col("kind") == "K", F.lit("commit")).otherwise(F.lit("rollback")).alias("outcome"),
        F.col("seq").alias("outcome_seq"),
        F.when(
            F.col("kind") == "K",
            F.expr("CAST(ts_us DIV 1000 AS BIGINT)") + F.lit(PG_EPOCH_UNIX_MS),
        ).alias("commit_ts_ms"),
    )
    return (
        begins.join(preps, begins.gid == preps._pg, "inner")
        .join(outcomes, begins.gid == outcomes._og, "left")
        .select(
            "xid", "gid", "begin_seq", "prepare_seq",
            "outcome", "outcome_seq", "commit_ts_ms",
        )
    )


def decode_pgoutput_two_phase(
    stream: DataFrame,
    *,
    data_col: str = "data",
    seq_col: str = "seq",
    tx_bucket_width: int = 256,
) -> DataFrame:
    """PG 15 ``two_phase`` pipeline: plain B…C transactions decode via
    the v1 interval path; PREPARED transactions (b … P) emit only after
    their COMMIT PREPARED ('K') arrives — the decision join is on gid —
    and ROLLBACK PREPARED ('r') / still-pending transactions never
    emit (emitting before the decision would un-prepare the 2PC
    semantics downstream; a consumer wanting pre-decision visibility
    reads :func:`pgoutput_prepared_tx_table` directly). Output is the
    v1 schema + ``gid`` (null for plain transactions).

    This entry point assumes NO protocol-v2 streaming: an S…E block's
    DML is xid-prefixed and would silently mis-parse here, so any
    Stream Start in the capture raises loudly with a pointer to
    :func:`decode_pgoutput_v2` (which handles streamed AND
    non-streamed two-phase shapes in one pass). The check rides the
    same single control-row scan that builds the prepared table — no
    extra pass over the data plane.

    Retained storage: the DML decode feeds BOTH stamping branches
    (plain B…C and committed prepared) — without a barrier each branch
    re-ran the full Python message parse (two identical MapInPandas
    subtrees in the plan). It is pinned once and, with the shared
    control-plane pin (replacing the prepared-parts pin that
    previously leaked one checkpoint per call), rides the result via
    ``retain`` — callers release with ``release_retained`` once the
    frame is consumed."""
    from ..operators.rangejoin import interval_join
    from ..plans.lineage import release_pinned, retain

    # one pinned control-row subset feeds the prepared-parts scan, the
    # relation catalog AND the B/C transaction table (was 3 more
    # full-capture scans); parts derive lazily from the tiny pin, so
    # their own pin is no longer needed
    ctrl = _control_plane_pin(stream, data_col, seq_col, b"RBCbPKrS")
    dml = None
    try:
        parts = _prepared_parts(ctrl, data_col=data_col, seq_col=seq_col, mark_stream=True)
        kind_counts = {
            r["kind"]: r["cnt"]
            for r in parts.groupBy("kind").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        if kind_counts.get("S"):
            raise PgoutputError(
                "capture contains protocol-v2 stream blocks; "
                "decode_pgoutput_two_phase would mis-parse xid-prefixed DML — "
                "use decode_pgoutput_v2 (it handles streamed and non-streamed "
                "two-phase transactions together)"
            )
        relations = pgoutput_relation_catalog(ctrl, data_col=data_col, seq_col=seq_col)
        # persist, not checkpoint: both stamping branches resolve to one
        # InMemoryRelation computed inside the final job (no extra job)
        dml = decode_pgoutput_dml(
            stream, relations, data_col=data_col, seq_col=seq_col
        ).persist()
        tx = pgoutput_tx_table(ctrl, data_col=data_col, seq_col=seq_col)
        v1 = stamp_transactions(dml, tx, bucket_width=tx_bucket_width).withColumn(
            "gid", F.lit(None).cast("string")
        )
        prepared = _prepared_table_from_parts(parts.filter(F.col("kind") != "S"))
        committed = prepared.filter(F.col("outcome") == "commit").select(
            "xid", "gid", "begin_seq", "prepare_seq", "commit_ts_ms"
        )
        one = F.lit(1)
        stamped = interval_join(
            dml.withColumn("_k", one),
            committed.withColumn("_k", one),
            by="_k",
            point_col="seq",
            start_col="begin_seq",
            end_col="prepare_seq",
            bucket_width=tx_bucket_width,
            how="inner",
        ).drop("_k", "begin_seq", "prepare_seq")
        return retain(v1.unionByName(stamped), ctrl, dml)
    except BaseException:
        release_pinned(ctrl)
        if dml is not None:
            release_pinned(dml)
        raise


def decode_pgoutput_v2(
    stream: DataFrame,
    *,
    data_col: str = "data",
    seq_col: str = "seq",
    tx_bucket_width: int = 256,
    keep_uncommitted: bool = False,
    stream_block_collect_max: int = 65536,
    block_bucket_width: int = 4096,
) -> DataFrame:
    """Protocol-v2 full pipeline (PG 14+ ``streaming = on``), the ONE
    entry point for a combined capture: the v1 path (catalog →
    map-only DML decode → interval-join tx stamp) PLUS streamed
    in-progress transactions stitched back together PLUS two-phase
    transactions in BOTH their shapes —

    - streamed txs: S…E block fragments attribute rows to their
      toplevel xid, StreamCommit gates emission (equi-join on xid),
      StreamAbort discards rolled-back subtransactions (anti-join on
      msg_xid); a streamed-prepared tx ('p' + COMMIT PREPARED 'K')
      gates through the same xid table.
    - NON-streamed prepared txs (``two_phase`` on, small tx: b dml… P
      with the 'K'/'r' decision later): their DML has no stream xid
      and no B…C interval, so it stamps against the committed b…P
      intervals from :func:`pgoutput_prepared_tx_table` — previously
      these rows were silently inner-join-dropped (ADVICE r8).

    Commit-gated like v1: a streamed tx with no StreamCommit, and a
    prepared tx whose decision is rollback or missing, never emit.
    Output schema matches :func:`decode_pgoutput` exactly so every
    downstream consumer (change feed, envelope, sinks) is
    format-agnostic about how the transaction traveled the wire.

    Block attribution picks its shape by measured boundary count
    (one counts-only job over the map-only S/E scan):

    - ``≤ stream_block_collect_max`` boundaries (a micro-batch, a
      bounded slice): collect + broadcast bisect — zero extra
      data-plane shuffles, the right call for streaming mode where
      the micro-batch bounds the block list;
    - above it (archive replay — S…E boundaries are O(#streamed txs ×
      segments), a 100-TB capture has millions): fully distributed —
      rank-paired block table (:func:`pgoutput_stream_block_table`) +
      bucketized interval-join attribution
      (:func:`pgoutput_attribute_stream`). Costs one data-plane
      shuffle; never builds a driver-side block list."""
    from ..plans.lineage import release_pinned as _release_pinned
    from ..plans.lineage import retain as _retain

    # one pinned control-row subset feeds EVERY control-plane pass
    # below (bounds, catalog, B/C table, prepared parts, stream
    # commit/abort/prepared gates) — previously each pass re-scanned
    # the full capture (guide §1.2: at archive scale the re-reads are
    # the dominant I/O term). Rides the result via retain; released on
    # the torn-capture raise paths.
    ctrl = _control_plane_pin(stream, data_col, seq_col, b"RBCSEcAbPKrp")
    bounds = pgoutput_stream_bounds(ctrl, data_col=data_col, seq_col=seq_col)
    bounds.persist()
    block_table = None
    try:
        n_bounds = bounds.count()
        if n_bounds <= stream_block_collect_max:
            # small-capture fast path: broadcast-bisect membership
            blocks = _pair_bound_rows(
                sorted((r.asDict() for r in bounds.collect()), key=lambda r: r["seq"])
            )
            # blocks FIRST: 'R' messages inside S…E blocks are
            # xid-prefixed too (PG's maybe_send_schema runs in-stream) —
            # without the intervals the xid bytes would be misread as
            # the relation_id and the entry silently poisoned
            relations = pgoutput_relation_catalog(
                ctrl, data_col=data_col, seq_col=seq_col, stream_blocks=blocks
            )
            dml = decode_pgoutput_dml(
                stream,
                relations,
                data_col=data_col,
                seq_col=seq_col,
                stream_blocks=blocks,
            )
        else:
            block_table = pgoutput_stream_block_table(bounds)
            astream = pgoutput_attribute_stream(
                stream,
                block_table,
                data_col=data_col,
                seq_col=seq_col,
                bucket_width=block_bucket_width,
            )
            relations = pgoutput_relation_catalog(
                astream, data_col=data_col, seq_col=seq_col, attr_col="_blk_xid"
            )
            dml = decode_pgoutput_dml(
                astream,
                relations,
                data_col=data_col,
                seq_col=seq_col,
                attr_col="_blk_xid",
            )
    except BaseException:
        _release_pinned(ctrl)
        raise
    finally:
        bounds.unpersist()
    # the DML decode (the one expensive Python parse of the capture)
    # feeds BOTH the plain and the streamed branch below — persist it
    # or each branch re-runs the full MapInPandas parse (two identical
    # DML subtrees in the pre-r14 plan). A persist (not a checkpoint):
    # both branches resolve to ONE InMemoryRelation computed inside
    # the final job itself — no separate materialization job. Rides
    # the result via retain, released by the caller.
    dml = dml.persist()
    plain = dml.filter(F.col("stream_xid").isNull()).drop("stream_xid", "msg_xid")
    tx = pgoutput_tx_table(ctrl, data_col=data_col, seq_col=seq_col)
    # non-streamed prepared txs: committed b…P intervals join exactly
    # like B…C ones; rollback/pending intervals never enter the table
    prepared = pgoutput_prepared_tx_table(ctrl, data_col=data_col, seq_col=seq_col)
    committed_2p = prepared.filter(F.col("outcome") == "commit").select(
        "xid",
        F.col("begin_seq"),
        F.col("prepare_seq").alias("commit_seq"),
        "commit_ts_ms",
    )
    v1 = _stamp_plain(
        plain,
        tx,
        committed_2p,
        bucket_width=tx_bucket_width,
        keep_uncommitted=keep_uncommitted,
    )
    sv = dml.filter(F.col("stream_xid").isNotNull())
    # a streamed tx commits either directly (StreamCommit 'c') or, with
    # two_phase on, via Stream Prepare ('p') + COMMIT PREPARED ('K') —
    # both shapes land in the same (xid, commit_ts) gate table
    commits = pgoutput_stream_tx_table(
        ctrl, data_col=data_col, seq_col=seq_col
    ).unionByName(
        pgoutput_stream_prepared_commits(ctrl, data_col=data_col, seq_col=seq_col)
    )
    aborts = pgoutput_stream_aborts(ctrl, data_col=data_col, seq_col=seq_col)
    streamed = (
        sv.join(
            commits.select(F.col("xid").alias("_cxid"), "commit_ts_ms"),
            sv.stream_xid == F.col("_cxid"),
            "inner",
        )
        .join(
            aborts.select(F.col("subxid").alias("_axid")),
            sv.msg_xid == F.col("_axid"),
            "left_anti",
        )
        .select(
            "seq", "lsn", "relation_id", "op", "schema", "table",
            "before", "after", "n_bytes",
            F.col("stream_xid").alias("xid"),
            "commit_ts_ms",
        )
    )
    out = v1.unionByName(streamed)
    # distributed path: the pinned block table still backs the lazy
    # DML persist — it rides the result too (previously it leaked one
    # checkpoint per archive slice, tagged on nothing)
    pins = [ctrl, dml] + ([block_table] if block_table is not None else [])
    return _retain(out, *pins)


def _stamp_plain(
    dml: DataFrame,
    tx: DataFrame,
    committed_prepared: DataFrame,
    *,
    bucket_width: int,
    keep_uncommitted: bool,
) -> DataFrame:
    """Stamp plain (non-streamed) DML against BOTH interval tables —
    B…C transactions and committed b…P prepared ones (disjoint in seq
    space: PG's reorder buffer emits each transaction's block
    contiguously). With ``keep_uncommitted``, rows matching NEITHER
    survive with null xid/commit_ts (anti-join on the unique seq), so
    the quarantine contract of :func:`stamp_transactions` holds across
    both shapes without double-emitting prepared rows."""
    from ..operators.rangejoin import interval_join

    one = F.lit(1)
    both = tx.select("xid", "begin_seq", "commit_seq", "commit_ts_ms").unionByName(
        committed_prepared.select("xid", "begin_seq", "commit_seq", "commit_ts_ms")
    )
    stamped = interval_join(
        dml.withColumn("_k", one),
        both.withColumn("_k", one),
        by="_k",
        point_col="seq",
        start_col="begin_seq",
        end_col="commit_seq",
        bucket_width=bucket_width,
        how="inner",
    ).drop("_k", "begin_seq", "commit_seq")
    if not keep_uncommitted:
        return stamped
    orphans = dml.join(stamped.select("seq"), "seq", "left_anti")
    for c in ("xid", "commit_ts_ms"):
        orphans = orphans.withColumn(c, F.lit(None).cast("long"))
    return stamped.unionByName(orphans)


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
    stamping composes via :func:`stamp_transactions` when needed."""
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


def stamp_transactions(
    dml: DataFrame,
    tx: DataFrame,
    *,
    bucket_width: int = 256,
    keep_uncommitted: bool = False,
) -> DataFrame:
    """Stamp each DML row with its transaction via the bucketized
    interval join (seq ∈ [begin_seq, commit_seq]) — scales with #tx,
    no ordering assumption, no cartesian (operators/rangejoin.py).

    ``keep_uncommitted``: a capture cut mid-transaction leaves DML with
    a Begin but no Commit; the default inner join drops those rows
    (commit-gated emission). The reference's sequential reader emits
    rows as they arrive, BEFORE the commit (postgres_event.rs
    handle_insert → send_event) — pass True for that parity: orphaned
    rows survive with a null xid/commit_ts so a downstream gate can
    quarantine instead of silently losing them."""
    from ..operators.rangejoin import interval_join

    one = F.lit(1)
    return interval_join(
        dml.withColumn("_k", one),
        tx.withColumn("_k", one),
        by="_k",
        point_col="seq",
        start_col="begin_seq",
        end_col="commit_seq",
        bucket_width=bucket_width,
        how="left" if keep_uncommitted else "inner",
    ).drop("_k", "begin_seq", "commit_seq")


def decode_pgoutput(
    stream: DataFrame,
    *,
    data_col: str = "data",
    seq_col: str = "seq",
    tx_bucket_width: int = 256,
    keep_uncommitted: bool = False,
) -> DataFrame:
    """Full pipeline: catalog collect → map-only DML decode → tx stamp.

    The relation catalog and the B/C transaction table read from ONE
    pinned control-row subset instead of two more full-capture scans
    (guide §1.2); the pin rides the result via ``retain`` — release
    with ``release_retained`` once consumed."""
    from ..plans.lineage import release_pinned, retain

    ctrl = _control_plane_pin(stream, data_col, seq_col, b"RBC")
    try:
        relations = pgoutput_relation_catalog(ctrl, data_col=data_col, seq_col=seq_col)
        dml = decode_pgoutput_dml(stream, relations, data_col=data_col, seq_col=seq_col)
        tx = pgoutput_tx_table(ctrl, data_col=data_col, seq_col=seq_col)
        return retain(
            stamp_transactions(
                dml, tx, bucket_width=tx_bucket_width, keep_uncommitted=keep_uncommitted
            ),
            ctrl,
        )
    except BaseException:
        release_pinned(ctrl)
        raise


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
    from ..plans.lineage import retain, retained_pins

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
    return retain(finish_envelope(out), *retained_pins(dec))


# ------------------------------------------------------------------
# deterministic wire-stream synthesis (fixture generator)
# ------------------------------------------------------------------

ORDERS_COLUMNS: list[tuple[str, int, int, int]] = [
    ("o_orderkey", INT8, -1, 1),
    ("o_custkey", INT8, -1, 0),
    ("o_orderstatus", TEXT, -1, 0),
    ("o_totalprice", FLOAT8, -1, 0),
    ("o_orderdate", TIMESTAMP, -1, 0),
    ("o_orderpriority", TEXT, -1, 0),
]

ORDERS_RELATION_ID = 51234

STREAM_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("data", T.BinaryType()),
    ]
)


def _pg_ts_text(epoch_us: int) -> str:
    """PG text format: seconds, with fractional µs only when nonzero."""
    ts = pd.Timestamp(int(epoch_us), unit="us")
    base = ts.strftime("%Y-%m-%d %H:%M:%S")
    if ts.microsecond:
        return f"{base}.{ts.microsecond:06d}"
    return base


def _float_text(v: float) -> str:
    """Shortest round-trip float text (PG float8 output semantics)."""
    return repr(float(v))


def _order_row_texts(
    pdf: pd.DataFrame,
) -> tuple[list[list[str]], list[str], list[float]]:
    """Column-wise extraction of the per-order pgoutput text tuples:
    (vals rows, statuses, totalprices) for an ALREADY-SORTED pdf.

    r13 optimization (guide §4.2): the synth gens built each row via
    ``pdf.iloc[i]`` — a fresh pandas Series per row — which dominated
    synth wall at bench scale (~3x the whole encode). Values are pulled
    once per column here; the timestamp text is the vectorized twin of
    :func:`_pg_ts_text` (strftime on the datetime series + explicit
    fractional-µs suffix), byte-identical output."""
    us = pdf["o_orderdate_us"].astype("int64")
    base = pd.to_datetime(us, unit="us").dt.strftime("%Y-%m-%d %H:%M:%S").tolist()
    frac = (us % 1_000_000).tolist()
    ts_text = [b + f".{f:06d}" if f else b for b, f in zip(base, frac)]
    statuses = [str(s) for s in pdf["o_orderstatus"].tolist()]
    prices = [float(p) for p in pdf["o_totalprice"].tolist()]
    vals = [
        [str(k), str(c), s, _float_text(p), t, str(pr)]
        for k, c, s, p, t, pr in zip(
            pdf["o_orderkey"].astype("int64").tolist(),
            pdf["o_custkey"].astype("int64").tolist(),
            statuses,
            prices,
            ts_text,
            pdf["o_orderpriority"].tolist(),
        )
    ]
    return vals, statuses, prices


def _order_msg(
    vals: list[str], status: str, price: float, *, stream_xid=None
) -> bytes:
    """One DML message from a precomputed text tuple — op by
    o_orderstatus exactly as the per-row ``dml`` closures did
    ('F'→delete, 'P'→update with before image, else insert)."""
    if status == "F":
        return encode_delete(ORDERS_RELATION_ID, vals, stream_xid=stream_xid)
    if status == "P":
        old = list(vals)
        old[3] = _float_text(price - 1.0)
        return encode_update(ORDERS_RELATION_ID, vals, old, stream_xid=stream_xid)
    return encode_insert(ORDERS_RELATION_ID, vals, stream_xid=stream_xid)


def _orders_with_date_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``orders`` with the timestamp normalized to an epoch-µs LONG up
    front: testdata vintages differ (TIMESTAMP(NANOS) reads as long
    under nanosAsLong, MICROS as timestamp) and the codec wants one
    representation."""
    from .snapshot import read_table

    orders = read_table(spark, sf_dir, "orders")
    dt = dict(orders.dtypes)["o_orderdate"]
    if dt in ("bigint", "long"):
        # integer DIV: epoch nanos exceed double's exact range
        date_us = F.expr("CAST(o_orderdate DIV 1000 AS BIGINT)")
    else:
        # NTZ→TS cast is session-tz-based; read_table pins UTC
        date_us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    return orders.withColumn("o_orderdate_us", date_us)


#: transactions per applyInPandas group in the synth generators — the
#: per-GROUP harness cost (Arrow slice + pandas build + worker
#: round-trip, ~0.5-1 ms) dominated synth wall when every transaction
#: was its own group (~2,350 groups at sf0.1 ⇒ >1 s pure harness; the
#: same diagnosis as the r13 bucketed tx-assembler). 32 txs/group keeps
#: groups plentiful at every SF while amortizing the harness 32x.
_SYNTH_TX_BUCKET = 32


def _tx_bucketed_synth(orders: DataFrame, emit_tx, *, rows_per_tx: int) -> DataFrame:
    """Shared fixture-generator frame (guide §4 — cross the Python
    boundary per BUCKET of transactions, not per transaction):
    bucket = ``_tx DIV _SYNTH_TX_BUCKET``; inside a bucket the rows
    sort by (_tx, o_orderkey) — identical per-tx order to the old
    one-group-per-tx shape — the text tuples extract ONCE for the
    whole bucket (vectorized ``_order_row_texts``), and
    ``emit_tx(tx, lo, hi, vals, statuses, prices, out)`` appends each
    transaction's (seq, bytes) rows from its [lo, hi) slice. Output
    rows are byte-identical to the per-tx form (seqs encode absolute
    positions, so row order is irrelevant)."""
    import numpy as np

    def gen(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:  # defensive: applyInPandas never sends empties
            return pd.DataFrame({"seq": [], "data": []})
        pdf = pdf.sort_values(["_tx", "o_orderkey"]).reset_index(drop=True)
        vals, statuses, prices = _order_row_texts(pdf)
        txs = pdf["_tx"].to_numpy()
        bounds = np.flatnonzero(np.r_[True, txs[1:] != txs[:-1], True])
        out: list[tuple[int, bytes]] = []
        for a, b in zip(bounds[:-1], bounds[1:]):
            emit_tx(int(txs[a]), int(a), int(b), vals, statuses, prices, out)
        return pd.DataFrame(out, columns=["seq", "data"])

    keyed = orders.withColumn(
        "_tx", F.floor(F.col("o_orderkey") / F.lit(rows_per_tx)).cast("long")
    ).withColumn("_bkt", F.expr(f"_tx DIV {_SYNTH_TX_BUCKET}"))
    return keyed.groupBy("_bkt").applyInPandas(gen, STREAM_SCHEMA)


def synth_pgoutput_orders(
    spark: SparkSession, sf_dir: str, *, rows_per_tx: int = 64
) -> DataFrame:
    """Encode the ``orders`` table as a deterministic pgoutput stream:
    per transaction group (o_orderkey // rows_per_tx): R, B, one DML per
    order (op by o_orderstatus: 'F'→delete, 'P'→update with before
    image, else insert), C. The encoder is the codec's own inverse, so
    ``decode_pgoutput`` over this stream must reproduce the source
    table bit-for-bit — which the DuckDB oracle checks from the
    original parquet, independent of any of this code."""
    orders = _orders_with_date_us(spark, sf_dir)
    slot = rows_per_tx + 3  # R, B, rows..., C

    def emit(tx, lo, hi, vals, statuses, prices, out):
        base = tx * slot
        xid = tx & 0xFFFFFFFF
        commit_ts_us = xid * 1_000_000
        n = hi - lo
        commit_seq = base + n + 2
        out.append(
            (base, encode_relation(ORDERS_RELATION_ID, "public", "orders", ORDERS_COLUMNS))
        )
        out.append((base + 1, encode_begin(commit_seq, commit_ts_us, xid)))
        for i in range(lo, hi):
            out.append((base + 2 + i - lo, _order_msg(vals[i], statuses[i], prices[i])))
        out.append((commit_seq, encode_commit(commit_seq, commit_seq + 1, commit_ts_us)))

    return _tx_bucketed_synth(orders, emit, rows_per_tx=rows_per_tx)


def synth_pgoutput_streamed(
    spark: SparkSession, sf_dir: str, *, rows_per_tx: int = 64
) -> DataFrame:
    """Protocol-v2 twin of :func:`synth_pgoutput_orders`: every third
    transaction travels as a STREAMED in-progress transaction —
    S…E block(s) with xid-prefixed DML, closed by StreamCommit — and
    every ninth additionally large enough to split into TWO segments
    (first_segment then continuation) before committing; every
    (9k+6)-th streamed tx ends in StreamAbort instead (its rows must
    never emit). Deterministic, so the DuckDB oracle can reproduce the
    expected committed row set from the orders parquet alone.

    Streamed transactions announce their relation IN-STREAM — the 'R'
    sits inside the first S…E block with the leading xid, exactly as
    PG 14's ``maybe_send_schema`` emits it for a relation first touched
    mid-stream — so the catalog's in-block relation parsing is
    value-checked end-to-end, not just the DML path.

    Layout per tx slot (rows_per_tx + 8 seqs wide):
      plain:    R B dml… C                 (v1, unchanged)
      streamed: S Rˣ dml… E c              (single segment, in-block R)
      split:    S Rˣ dml₁… E S dml₂… E c   (two segments, same xid)
      aborted:  S Rˣ dml… E A              (whole-tx rollback)
    """
    orders = _orders_with_date_us(spark, sf_dir)
    slot = rows_per_tx + 8  # R + worst case S…E S…E + commit/abort

    def emit(tx, lo, hi, vals, statuses, prices, out):
        base = tx * slot
        xid = tx & 0xFFFFFFFF
        commit_ts_us = xid * 1_000_000
        n = hi - lo
        streamed = tx % 3 == 0
        split = streamed and tx % 9 == 0
        aborted = streamed and tx % 9 == 6

        def dml(i: int, *, stream_xid=None) -> bytes:
            return _order_msg(
                vals[i], statuses[i], prices[i], stream_xid=stream_xid
            )

        seq = base
        if not streamed:
            out.append(
                (seq, encode_relation(ORDERS_RELATION_ID, "public", "orders", ORDERS_COLUMNS))
            )
            seq += 1
            commit_seq = base + n + 2
            out.append((seq, encode_begin(commit_seq, commit_ts_us, xid)))
            seq += 1
            for i in range(lo, hi):
                out.append((seq, dml(i)))
                seq += 1
            out.append((commit_seq, encode_commit(commit_seq, commit_seq + 1, commit_ts_us)))
        else:
            half = n // 2 if split else n
            out.append((seq, encode_stream_start(xid, first_segment=True)))
            seq += 1
            # relation announced IN-STREAM, xid-prefixed (PG 14
            # maybe_send_schema inside the streamed block)
            out.append(
                (
                    seq,
                    encode_relation(
                        ORDERS_RELATION_ID, "public", "orders", ORDERS_COLUMNS,
                        stream_xid=xid,
                    ),
                )
            )
            seq += 1
            for i in range(lo, lo + half):
                out.append((seq, dml(i, stream_xid=xid)))
                seq += 1
            out.append((seq, encode_stream_stop()))
            seq += 1
            if split:
                out.append((seq, encode_stream_start(xid, first_segment=False)))
                seq += 1
                for i in range(lo + half, hi):
                    out.append((seq, dml(i, stream_xid=xid)))
                    seq += 1
                out.append((seq, encode_stream_stop()))
                seq += 1
            if aborted:
                out.append((seq, encode_stream_abort(xid, xid)))
            else:
                out.append(
                    (seq, encode_stream_commit(xid, seq, seq + 1, commit_ts_us))
                )

    return _tx_bucketed_synth(orders, emit, rows_per_tx=rows_per_tx)


def synth_pgoutput_two_phase(
    spark: SparkSession, sf_dir: str, *, rows_per_tx: int = 64
) -> DataFrame:
    """Two-phase twin of :func:`synth_pgoutput_orders` (PG 15
    ``two_phase``): every third transaction travels PREPARED —
    ``b dml… P`` with the decision arriving later in the capture as
    COMMIT PREPARED ('K'); every (9k+6)-th prepared transaction gets
    ROLLBACK PREPARED ('r') instead and must never emit; every
    (9k+3)-th stays PENDING (no decision in the capture) and must not
    emit either. Deterministic, so the DuckDB oracle reproduces the
    committed row set from the orders parquet alone.

    Layout per tx slot (rows_per_tx + 8 seqs wide):
      plain:      R B dml… C
      committed:  R b dml… P K      (decision at slot end)
      rolled:     R b dml… P r
      pending:    R b dml… P        (decision outside the capture)
    """
    orders = _orders_with_date_us(spark, sf_dir)
    slot = rows_per_tx + 8

    def emit(tx, lo, hi, vals, statuses, prices, out):
        base = tx * slot
        xid = tx & 0xFFFFFFFF
        gid = f"tx{xid}"
        ts_us = xid * 1_000_000
        n = hi - lo
        prepared = tx % 3 == 0
        rolled = prepared and tx % 9 == 6
        pending = prepared and tx % 9 == 3

        def dml(i: int) -> bytes:
            return _order_msg(vals[i], statuses[i], prices[i])

        out.append(
            (base, encode_relation(ORDERS_RELATION_ID, "public", "orders", ORDERS_COLUMNS))
        )
        seq = base + 1
        if not prepared:
            commit_seq = base + n + 2
            out.append((seq, encode_begin(commit_seq, ts_us, xid)))
            seq += 1
            for i in range(lo, hi):
                out.append((seq, dml(i)))
                seq += 1
            out.append((commit_seq, encode_commit(commit_seq, commit_seq + 1, ts_us)))
        else:
            prep_seq = base + n + 2
            out.append((seq, encode_begin_prepare(prep_seq, prep_seq + 1, ts_us, xid, gid)))
            seq += 1
            for i in range(lo, hi):
                out.append((seq, dml(i)))
                seq += 1
            out.append((prep_seq, encode_prepare(prep_seq, prep_seq + 1, ts_us, xid, gid)))
            if rolled:
                out.append(
                    (
                        prep_seq + 1,
                        encode_rollback_prepared(
                            prep_seq, prep_seq + 2, ts_us, ts_us + 1, xid, gid
                        ),
                    )
                )
            elif not pending:
                out.append(
                    (
                        prep_seq + 1,
                        encode_commit_prepared(prep_seq, prep_seq + 2, ts_us, xid, gid),
                    )
                )

    return _tx_bucketed_synth(orders, emit, rows_per_tx=rows_per_tx)


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
