"""Seeded input generators for the benchmark workloads.

Every input is built from the engine's public wire encoders only
(``sources.binlog`` event payload encoders, ``sources.pgoutput``
message encoders, ``sources.datasource.write_spool``), never from the
fixture synthesizers inside the production modules. The same seed gives
byte-identical files.

Each generator returns the directory it filled plus the expected
outcome the benchmark checks the engine's outputs against. Inputs are
cached under ``<checkout>/.bench_cache`` keyed by workload, generator
version, seed and size; a ``_COMPLETE`` marker holding the expected
outcome is written last, so an interrupted generation is redone.
"""

from __future__ import annotations

import json
import os
import random
import shutil

#: bump when any generator's output changes, so stale caches are ignored
GEN_VERSION = 6

#: row events after which a generator starts a new file; files rotate
#: only between transactions, so a file holds at least this many
EVENTS_PER_FILE = 4000

MASK64 = (1 << 64) - 1
_OP_CODE = {"c": 1, "u": 2, "d": 3}


def key_op_hash(pairs) -> int:
    """Order-insensitive hash of (key, op) pairs: a sum of mixed 64-bit
    words, so it can be computed from the generator's list and from the
    lake files in any order."""
    h = 0
    for key, op in pairs:
        x = ((int(key) * 1_000_003 + _OP_CODE[op]) * 0x9E3779B97F4A7C15) & MASK64
        x ^= x >> 29
        h = (h + x) & MASK64
    return h


def _cached(root: str, name: str, build) -> tuple[str, dict]:
    """Return (dir, expected) for ``name``, building it once."""
    base = os.path.join(root, ".bench_cache")
    path = os.path.join(base, name)
    marker = os.path.join(path, "_COMPLETE")
    if os.path.exists(marker):
        with open(marker) as f:
            return path, json.load(f)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    expected = build(tmp)
    with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
        json.dump(expected, f)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path, expected


def _tx_sizes(rng: random.Random, n_events: int) -> list[int]:
    """Many small transactions and a few large ones, summing to
    ``n_events``, in seeded order. A fixed quarter of the events sits
    in large transactions, so the transaction count, which the tx
    stamping and the per-transaction commits scale with, barely moves
    from seed to seed."""
    sizes, large = [], n_events // 4
    while large > 0:
        n = min(rng.randint(200, 2000), large)
        sizes.append(n)
        large -= n
    small = n_events - sum(sizes)
    while small > 0:
        n = min(1 + int(rng.expovariate(1 / 6)), 60, small)
        sizes.append(n)
        small -= n
    rng.shuffle(sizes)
    return sizes


def _op_mix(rng: random.Random) -> tuple[float, float]:
    """(p_create, p_delete); the rest are updates. The ranges are narrow
    because an update carries two row images: a wider mix would move the
    work per event, and so the timings, from seed to seed."""
    return rng.uniform(0.45, 0.55), rng.uniform(0.1, 0.15)


def _pick_op(rng: random.Random, p_c: float, p_d: float) -> str:
    r = rng.random()
    return "c" if r < p_c else ("d" if r < p_c + p_d else "u")


_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango"
).split()


def _row(rng: random.Random, key: int, ts_us: int) -> dict:
    """One row image with JSON / DECIMAL / NULL-able columns."""
    doc = (
        None
        if rng.random() < 0.3
        else {"tag": rng.choice(_WORDS), "n": rng.randint(0, 999),
              "ok": rng.random() < 0.5}
    )
    score = None if rng.random() < 0.15 else round(rng.uniform(-40.0, 100.0), 3)
    cents = rng.randint(-10_000_000, 99_999_999)
    sign = "-" if cents < 0 else ""
    amount = f"{sign}{abs(cents) // 100}.{abs(cents) % 100:02d}"
    name = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 4)))
    return {"id": key, "ts": ts_us, "name": name, "amount": amount,
            "doc": doc, "score": score}


# ------------------------------------------------------------------ binlog

BINLOG_COLUMNS = ["id", "ts", "name", "amount", "doc", "score"]
BINLOG_DB = "shop"
#: rows per ROWS event, as MySQL batches a statement's row images
ROWS_PER_EVENT = 100


def passes_drain_filter(before: dict | None, after: dict | None) -> bool:
    """Mirror of the drain's ``FilterSpec``: ``score >= 0`` where the
    bare field path reads ``coalesce(after.score, before.score)``."""
    v = after.get("score") if after is not None else None
    if v is None and before is not None:
        v = before.get("score")
    return v is not None and v >= 0


def _binlog_table_meta():
    from deltaforge_spark.sources import binlog as b

    types = [b.MYSQL_TYPE_LONGLONG, b.MYSQL_TYPE_DATETIME2, b.MYSQL_TYPE_VARCHAR,
             b.MYSQL_TYPE_NEWDECIMAL, b.MYSQL_TYPE_JSON, b.MYSQL_TYPE_DOUBLE]
    metas = [0, 6, 128, (18 << 8) | 2, 4, 8]
    nullable = [False, False, False, False, True, True]
    return types, metas, nullable


def binlog_tables(seed: int) -> list[str]:
    """3 or 4 tables. The drain routes each table to its own topic, and
    every Kafka transaction commits on each topic's partitions: with 2
    to 5 tables, passes ran 13% apart from seed to seed in one session,
    at 2 tables against 4 or 5."""
    return [f"t{i}" for i in range(random.Random(seed).randint(3, 4))]


def _binlog_transactions(seed: int, n_events: int):
    """Yield (gno, table, [(op, before, after), ...]) per transaction."""
    rng = random.Random(seed * 7919 + 1)
    tables = binlog_tables(seed)
    p_c, p_d = _op_mix(rng)
    next_key = 1
    ts_us = 1_700_000_000_000_000
    for gno, size in enumerate(_tx_sizes(rng, n_events), start=1):
        table = rng.choice(tables)
        rows = []
        for _ in range(size):
            op = _pick_op(rng, p_c, p_d)
            ts_us += rng.randint(1, 2000)
            if op == "c" or next_key == 1:
                op = "c"
                after = _row(rng, next_key, ts_us)
                next_key += 1
                rows.append(("c", None, after))
                continue
            key = rng.randint(1, next_key - 1)
            before = _row(rng, key, ts_us - 1)
            if op == "d":
                rows.append(("d", before, None))
            else:
                rows.append(("u", before, _row(rng, key, ts_us)))
        yield gno, table, rows


def gen_binlog(root: str, seed: int, n_events: int) -> tuple[str, dict]:
    """Binlog segment files ``binlog.NNNNNN``; each holds whole
    transactions (GTID, BEGIN, TABLE_MAP + ROWS runs, XID) behind a
    format description event.

    Expected: total row events and the count that passes the drain's
    filter."""

    def build(out: str) -> dict:
        from deltaforge_spark.sources import binlog as b

        types, metas, nullable = _binlog_table_meta()
        tables = binlog_tables(seed)
        table_ids = {t: 100 + i for i, t in enumerate(tables)}
        sid = bytes(random.Random(seed).randrange(256) for _ in range(16))
        n_total = n_kept = 0
        files = 0
        w, in_file = None, 0

        def flush():
            nonlocal w, files, in_file
            if w is not None:
                files += 1
                with open(os.path.join(out, f"binlog.{files:06d}"), "wb") as f:
                    f.write(w.bytes())
            w, in_file = None, 0

        for gno, table, rows in _binlog_transactions(seed, n_events):
            if w is None:
                w = b.SegmentWriter(server_id=1 + seed % 1000)
                w.append(b.FORMAT_DESCRIPTION_EVENT, b.fde_payload())
            ts = 1_700_000_000 + gno
            w.append(b.GTID_LOG_EVENT, b.gtid_payload(sid, gno), ts=ts)
            w.append(b.QUERY_EVENT, b.query_payload(BINLOG_DB, "BEGIN"), ts=ts)
            tid = table_ids[table]
            # consecutive rows of one op form one statement's ROWS events
            i = 0
            while i < len(rows):
                op = rows[i][0]
                j = i
                while j < len(rows) and rows[j][0] == op and j - i < ROWS_PER_EVENT:
                    j += 1
                images = []
                for _, before, after in rows[i:j]:
                    for img in ((before, after) if op == "u" else
                                (after,) if op == "c" else (before,)):
                        images.append([img[c] for c in BINLOG_COLUMNS])
                code = {"c": b.WRITE_ROWS_EVENT, "u": b.UPDATE_ROWS_EVENT,
                        "d": b.DELETE_ROWS_EVENT}[op]
                w.append(b.TABLE_MAP_EVENT, b.table_map_payload(
                    tid, BINLOG_DB, table, types, metas, nullable), ts=ts)
                w.append(code, b.rows_payload(
                    tid, len(types), images, types, metas, update=(op == "u")), ts=ts)
                i = j
            w.append(b.XID_EVENT, b.xid_payload(gno), ts=ts)
            for _, before, after in rows:
                n_total += 1
                n_kept += passes_drain_filter(before, after)
            in_file += len(rows)
            if in_file >= EVENTS_PER_FILE:
                flush()
        flush()
        return {"events": n_total, "kept": n_kept, "files": files, "tables": tables}

    return _cached(root, f"mysql-v{GEN_VERSION}-s{seed}-n{n_events}", build)


# ---------------------------------------------------------------- pgoutput

PG_SCHEMA = "public"


def _pg_columns():
    from deltaforge_spark.sources import pgoutput as p

    # (name, type oid, typmod, flags: 1 = part of the replica identity key)
    return [("id", p.INT8, -1, 1), ("ts", p.TIMESTAMP, -1, 0), ("name", p.TEXT, -1, 0),
            ("amount", p.NUMERIC, -1, 0), ("doc", p.JSONB, -1, 0),
            ("score", p.FLOAT8, -1, 0)]


def _pg_text(img: dict) -> list:
    """pgoutput text-format tuple for one row image."""
    from datetime import datetime, timezone

    ts = datetime.fromtimestamp(img["ts"] / 1e6, tz=timezone.utc)
    return [
        str(img["id"]),
        ts.strftime("%Y-%m-%d %H:%M:%S.%f"),
        img["name"],
        img["amount"],
        None if img["doc"] is None else json.dumps(img["doc"]),
        None if img["score"] is None else repr(float(img["score"])),
    ]


def gen_pgoutput(root: str, seed: int, n_events: int) -> tuple[str, dict]:
    """pgoutput spool files ``wal.NNNNNN.pgout``: relation messages at
    the head of each file, then whole B…C transactions. Files rotate
    only at commits: a transaction split across two spool files gets a
    seq interval spanning the per-file seq stride, which the tx-stamping
    interval join explodes (see perfbench/README.md, known issues).

    Expected: total row events and the (key, op) hash."""

    def build(out: str) -> dict:
        from deltaforge_spark.sources import pgoutput as p
        from deltaforge_spark.sources.datasource import write_spool

        rng = random.Random(seed * 104729 + 3)
        tables = [f"t{i}" for i in range(rng.randint(2, 5))]
        rel_ids = {t: 16_384 + i for i, t in enumerate(tables)}
        cols = _pg_columns()
        p_c, p_d = _op_mix(rng)
        pairs: list[tuple[int, str]] = []
        next_key, ts_us, lsn, xid = 1, 1_700_000_000_000_000, 0x1_0000_0000, 1000
        msgs: list[bytes] = []
        files = 0

        def start_file() -> None:
            msgs.extend(p.encode_relation(rel_ids[t], PG_SCHEMA, t, cols) for t in tables)

        def flush() -> None:
            nonlocal files
            files += 1
            write_spool(os.path.join(out, f"wal.{files:06d}.pgout"), msgs)
            msgs.clear()

        start_file()
        in_file = 0
        for size in _tx_sizes(rng, n_events):
            xid += 1
            commit_us = ts_us - 946_684_800_000_000  # PG epoch is 2000-01-01
            body: list[bytes] = []
            for _ in range(size):
                table = rng.choice(tables)
                rid = rel_ids[table]
                op = _pick_op(rng, p_c, p_d)
                ts_us += rng.randint(1, 2000)
                if op == "c" or next_key == 1:
                    op = "c"
                    img = _row(rng, next_key, ts_us)
                    next_key += 1
                    body.append(p.encode_insert(rid, _pg_text(img)))
                else:
                    key = rng.randint(1, next_key - 1)
                    old = _row(rng, key, ts_us - 1)
                    if op == "d":
                        body.append(p.encode_delete(rid, _pg_text(old)))
                    else:
                        img = _row(rng, key, ts_us)
                        body.append(p.encode_update(rid, _pg_text(img), _pg_text(old)))
                pairs.append((key if op != "c" else next_key - 1, op))
            lsn += 64 * (size + 2)
            msgs.append(p.encode_begin(lsn, commit_us, xid))
            msgs.extend(body)
            msgs.append(p.encode_commit(lsn, lsn + 32, commit_us))
            in_file += size
            if in_file >= EVENTS_PER_FILE:
                flush()
                start_file()
                in_file = 0
        if in_file:
            flush()
        return {"events": len(pairs), "files": files, "tables": tables,
                "key_op_hash": key_op_hash(pairs)}

    return _cached(root, f"pg-v{GEN_VERSION}-s{seed}-n{n_events}", build)
