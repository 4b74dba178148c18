"""Wire decoders as live Spark stages: the binlog segment decoder
running inside Structured Streaming (what a production tailer does —
new segments land in storage, readStream picks them up, mapInPandas
decodes), and decoded GTIDs feeding the existing GtidSet interval
algebra (sources/gtid.py) — the offset-tracking handoff the reference
performs in handle_gtid/handle_xid (mysql_event.rs:463-508)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from deltaforge_spark.sources.binlog import (
    EVENTS_COL_NAMES,
    SEGMENT_SCHEMA,
    decode_binlog_segments,
    synth_binlog_events,
)
from deltaforge_spark.sources.fixtures import synth_pgoutput_orders
from deltaforge_spark.sources.pgoutput import decode_pgoutput


@pytest.fixture(scope="module")
def segment_dir(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("binlog-segments"))
    # small segments → 10 files → the streaming test gets real
    # multi-trigger increments and the GTID set a genuine interval
    synth_binlog_events(spark, sf_dir, rows_per_segment=100).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def test_binlog_decode_under_structured_streaming(spark, sf_dir, segment_dir):
    """readStream over the segment store → mapInPandas decode →
    availableNow drain; result must equal the batch decode exactly.
    maxFilesPerTrigger forces multiple micro-batches so the decode is
    exercised as an incremental stage, not one big batch."""
    from deltaforge_spark.streaming.pipeline import run_stream_to_memory

    cols = {("testdb", "events"): EVENTS_COL_NAMES}
    stream = (
        spark.readStream.schema(SEGMENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(segment_dir)
    )
    streamed = run_stream_to_memory(
        decode_binlog_segments(stream, cols),
        name="binlog_stream_decode",
        output_mode="append",
    )
    batch = decode_binlog_segments(spark.read.parquet(segment_dir), cols)
    assert streamed.count() == batch.count()
    # full-row equality both directions (order-insensitive)
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_decoded_gtids_merge_into_interval_algebra(spark, sf_dir, segment_dir):
    """The decoder's (sid, gno) output feeds gtid_ranges_df: segments
    are gapless gno = segment+1, so the merged executed-set must be a
    single interval 1-N for the synthetic server uuid."""
    from deltaforge_spark.sources.gtid import gtid_ranges_df

    cols = {("testdb", "events"): EVENTS_COL_NAMES}
    dec = decode_binlog_segments(spark.read.parquet(segment_dir), cols)
    observed = dec.select(
        F.col("gtid_sid").alias("server_uuid"), F.col("gno").alias("txid")
    ).distinct()
    ranges = gtid_ranges_df(observed).collect()
    assert len(ranges) == 1
    n_segments = spark.read.parquet(segment_dir).count()
    assert n_segments > 1
    assert ranges[0]["gtid_set"] == f"1-{n_segments}"
    assert ranges[0]["n_intervals"] == 1


def test_pgoutput_decode_streaming_parity(spark, sf_dir, tmp_path):
    """Same harness for pgoutput: the (seq, data) stream decodes under
    availableNow with multiple triggers and matches the batch decode.
    (Tx stamping joins a streaming frame with itself via the interval
    join — run the decode on the batch side per trigger here; the
    streamed stage is the map-only DML parse, which is the scale-
    critical path.)"""
    from deltaforge_spark.sources.pgoutput import (
        decode_pgoutput_dml,
        pgoutput_relation_catalog,
    )
    from deltaforge_spark.streaming.pipeline import run_stream_to_memory

    path = str(tmp_path / "pgout")
    stream_df = synth_pgoutput_orders(spark, sf_dir)
    stream_df.write.mode("overwrite").parquet(path)
    relations = pgoutput_relation_catalog(spark.read.parquet(path))

    stream = (
        spark.readStream.schema("seq long, data binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    streamed = run_stream_to_memory(
        decode_pgoutput_dml(stream, relations),
        name="pgoutput_stream_decode",
        output_mode="append",
    )
    batch = decode_pgoutput_dml(spark.read.parquet(path), relations)
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0


def test_batch_end_to_end_tx_stamping_counts(spark, sf_dir):
    """decode_pgoutput: every DML row lands in exactly one transaction
    (the interval join neither drops nor duplicates)."""
    stream = synth_pgoutput_orders(spark, sf_dir)
    dec = decode_pgoutput(stream)
    dml_rows = dec.count()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert dml_rows == orders
    # xid is never null after stamping
    assert dec.filter(F.col("xid").isNull()).count() == 0


def test_binlog_change_feed_envelope_and_spec(spark, sf_dir, segment_dir):
    """The decoder fronts the SAME envelope the processor chain
    consumes: a reference YAML spec with source.config.binlog_dir
    compiles to a program that decodes wire bytes, applies the declared
    filter processor, and emits canonical envelope rows."""
    from pyspark.sql import types as T

    from deltaforge_spark.plans.refspec import (
        compile_reference_pipeline,
        parse_reference_spec,
    )

    image_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StructType([T.StructField("k", T.LongType())])),
            T.StructField("amount", T.StringType()),
        ]
    )
    spec = {
        "apiVersion": "deltaforge/v1",
        "kind": "Pipeline",
        "metadata": {"name": "binlog-live"},
        "spec": {
            "source": {
                "type": "mysql",
                "config": {"binlog_dir": segment_dir, "tables": ["testdb.events"]},
            },
            "processors": [
                {"type": "filter", "ops": ["c", "u"]},
            ],
            "sinks": [{"type": "s3", "config": {}}],
        },
    }
    ref = parse_reference_spec(spec)
    program, sinks, policy, ref = compile_reference_pipeline(
        ref,
        binlog_schemas=({("testdb", "events"): EVENTS_COL_NAMES}, image_schema, "ts"),
    )
    df = program(spark, sf_dir)
    rows = df.count()
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    expected = events.filter(F.col("event_type") != "error").count()
    assert rows == expected  # deletes filtered by ops gate
    # envelope shape: canonical columns, typed images, per-row source
    assert df.columns[:5] == ["op", "ts_ms", "before", "after", "source"]
    sample = df.filter(F.col("op") == "u").limit(1).collect()[0]
    assert sample["source"]["connector"] == "mysql"
    assert sample["source"]["table"] == "events"
    assert sample["after"]["event_id"] is not None
    assert sample["before"]["props"] is None          # null-bitmap before image
    assert sample["transaction"]["id"] is not None
    # ts_ms comes from the decoded DATETIME2 column, not the header
    from deltaforge_spark.sources import read_table

    ev_norm = read_table(spark, sf_dir, "events")  # ts → epoch nanos long
    ev_row = ev_norm.filter(F.col("event_id") == sample["after"]["event_id"]).collect()[0]
    assert sample["ts_ms"] == ev_row["ts"] // 10**6


def test_binlog_change_feed_requires_schemas(spark, sf_dir, segment_dir):
    from deltaforge_spark.plans.refspec import (
        UnsupportedSpecError,
        compile_reference_pipeline,
        parse_reference_spec,
    )

    spec = {
        "apiVersion": "deltaforge/v1",
        "kind": "Pipeline",
        "metadata": {"name": "binlog-live"},
        "spec": {
            "source": {"type": "mysql", "config": {"binlog_dir": segment_dir}},
            "sinks": [{"type": "s3", "config": {}}],
        },
    }
    with pytest.raises(UnsupportedSpecError, match="binlog_schemas"):
        compile_reference_pipeline(parse_reference_spec(spec))


def test_pg_wal_dir_spec_source(spark, sf_dir, tmp_path):
    """A postgres spec source with config.wal_dir compiles to the
    pgoutput wire decoder fronting the processor chain."""
    from pyspark.sql import types as T

    from deltaforge_spark.plans.refspec import (
        compile_reference_pipeline,
        parse_reference_spec,
    )

    path = str(tmp_path / "wal")
    synth_pgoutput_orders(spark, sf_dir).write.parquet(path)
    image_schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.StringType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    spec = {
        "apiVersion": "deltaforge/v1",
        "kind": "Pipeline",
        "metadata": {"name": "pg-wal"},
        "spec": {
            "source": {
                "type": "postgres",
                "config": {"wal_dir": path, "tables": ["public.orders"]},
            },
            "processors": [{"type": "filter", "ops": ["c", "d"]}],
            "sinks": [{"type": "s3", "config": {}}],
        },
    }
    program, sinks, policy, ref = compile_reference_pipeline(
        parse_reference_spec(spec),
        binlog_schemas=(None, image_schema, None),
    )
    df = program(spark, sf_dir)
    import duckdb

    expected = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/orders.parquet') "
        "WHERE o_orderstatus <> 'P'"
    ).fetchone()[0]
    assert df.count() == expected
    sample = df.filter(F.col("op") == "d").limit(1).collect()[0]
    assert sample["source"]["connector"] == "postgresql"
    assert sample["source"]["table"] == "orders"
    assert sample["before"]["o_orderkey"] is not None
    assert sample["after"] is None


def test_decode_layout_invariance(spark, sf_dir, segment_dir):
    """Decode output must not depend on physical layout: an adversarial
    repartition of the segment/message stream yields the identical row
    set (the same gate the dedup/ANN layer carries in
    test_partitioning_invariance.py)."""
    cols = {("testdb", "events"): EVENTS_COL_NAMES}
    segs = spark.read.parquet(segment_dir)
    a = decode_binlog_segments(segs, cols)
    b = decode_binlog_segments(segs.repartition(7), cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    stream = synth_pgoutput_orders(spark, sf_dir)
    c = decode_pgoutput(stream)
    d = decode_pgoutput(stream.repartition(5))
    assert c.exceptAll(d).count() == 0 and d.exceptAll(c).count() == 0


def test_pgoutput_envelope_feeds_tx_assembly(spark, sf_dir):
    """Cross-layer integration: the pgoutput wire envelope drives the
    transaction assembler directly — per-tx event counts from assembled
    wire bytes must equal the orders-per-transaction group sizes."""
    from pyspark.sql import types as T

    from deltaforge_spark.sources.pgoutput import pgoutput_change_feed
    from deltaforge_spark.streaming import assembled_transactions_batch

    image_schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.StringType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    env = pgoutput_change_feed(synth_pgoutput_orders(spark, sf_dir), image_schema)
    assembled = assembled_transactions_batch(env)
    got = {r["tx_id"]: r["n_events"] for r in assembled.collect()}

    import duckdb

    expected = dict(
        duckdb.sql(
            f"SELECT CAST(o_orderkey // 64 AS VARCHAR), count(*) "
            f"FROM read_parquet('{sf_dir}/orders.parquet') GROUP BY 1"
        ).fetchall()
    )
    assert got == expected
    # op mix flows through: creates+updates+deletes == n_events per tx
    bad = assembled.filter(
        F.col("n_creates") + F.col("n_updates") + F.col("n_deletes") != F.col("n_events")
    )
    assert bad.count() == 0


def test_binlog_query_statements_feed_ddl_capture(spark, sf_dir, segment_dir):
    """QUERY events from decoded segments feed the DDL layer: BEGIN
    markers filtered, statements classified by sources/ddl.py."""
    from deltaforge_spark.sources.binlog import (
        QUERY_EVENT,
        SegmentWriter,
        binlog_query_statements,
        fde_payload,
        query_payload,
    )
    from deltaforge_spark.sources.ddl import is_ddl

    w = SegmentWriter(server_id=2)
    w.append(QUERY_EVENT, query_payload("testdb", "BEGIN"))
    w.append(QUERY_EVENT, query_payload("testdb", "ALTER TABLE events ADD COLUMN x INT"))
    w.append(QUERY_EVENT, query_payload("testdb", "INSERT INTO t VALUES (1)"))
    extra = spark.createDataFrame([(999, w.bytes())], "segment long, data binary")
    segs = spark.read.parquet(segment_dir).unionByName(extra)
    stmts = binlog_query_statements(segs)
    rows = stmts.collect()
    sqls = {r["statement"] for r in rows}
    assert "ALTER TABLE events ADD COLUMN x INT" in sqls
    assert "BEGIN" not in sqls
    ddl_only = stmts.filter(is_ddl(F.col("statement"))).collect()
    assert any("ALTER TABLE" in r["statement"] for r in ddl_only)
    assert all("INSERT INTO" not in r["statement"] for r in ddl_only)


def test_pgoutput_relation_drift(spark):
    """A relation re-announced with a changed column set emits exactly
    one drift row carrying both versions (reference columns_differ →
    ReloadSchema); unchanged re-announcements are silent."""
    from deltaforge_spark.sources import pgoutput as pg
    from deltaforge_spark.sources.pgoutput import relation_drift

    cols_v1 = [("id", pg.INT8, -1, 1), ("name", pg.TEXT, -1, 0)]
    cols_v2 = [("id", pg.INT8, -1, 1), ("name", pg.VARCHAR, -1, 0)]
    rows = [
        (1, pg.encode_relation(7, "public", "t", cols_v1)),
        (2, pg.encode_relation(7, "public", "t", cols_v1)),  # re-map, same
        (3, pg.encode_relation(7, "public", "t", cols_v2)),  # CHANGED
        (4, pg.encode_relation(9, "public", "u", cols_v1)),  # other table
    ]
    df = spark.createDataFrame(rows, "seq long, data binary")
    out = relation_drift(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.seq, r.relation_id, r.table) == (3, 7, "t")
    assert '"type_oid": 25' in r.columns_before
    assert '"type_oid": 1043' in r.columns_after
