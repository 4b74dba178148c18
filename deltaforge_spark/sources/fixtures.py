"""Deterministic pgoutput capture fixtures: the TPC-H-shaped
``orders`` table encoded as plain, streamed (protocol v2) and
two-phase pgoutput byte streams. The encoders are the codec's own
inverse, so ``decode_pgoutput`` over these streams must reproduce the
source table, which the DuckDB oracles check from the parquet alone.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pgoutput import (
    FLOAT8,
    INT8,
    TEXT,
    TIMESTAMP,
    encode_begin,
    encode_begin_prepare,
    encode_commit,
    encode_commit_prepared,
    encode_delete,
    encode_insert,
    encode_prepare,
    encode_relation,
    encode_rollback_prepared,
    encode_stream_abort,
    encode_stream_commit,
    encode_stream_start,
    encode_stream_stop,
    encode_update,
)

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
