"""Chaos-suite analogs (reference crates/chaos/src/scenarios: sink_outage,
dlq_poison, crash_recovery): kill/fail mid-stream, recover, assert no
loss and bounded duplicates — the recovery/replay harness SURVEY.md §5
commits to in place of the reference's dockerized chaos rig."""

import os

import pyspark.sql.functions as F

from deltaforge_spark.sinks.dlq import DlqStore, split_dlq
from deltaforge_spark.sinks.foreach import CommitPolicy, SinkSpec
from deltaforge_spark.streaming.pipeline import StreamingPipeline, file_change_source


def _write_chunks(spark, path, n_chunks=3, rows_per=10):
    import time as _t

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    base = _t.time() - 1000
    for i in range(n_chunks):
        ids = list(range(i * rows_per, (i + 1) * rows_per))
        tbl = pa.table({"event_id": ids, "value": [x * 2 for x in ids]})
        p = f"{path}/chunk_{i}.parquet"
        pq.write_table(tbl, p)
        os.utime(p, (base + i * 10, base + i * 10))
    return spark.read.parquet(path).schema


class _DirSink:
    """Records every delivered event_id (append-only jsonl per call) —
    duplicates visible, so the tests can assert exactly-once-per-sink."""

    def __init__(self, out_dir, fail_batches=0):
        self.out = out_dir
        os.makedirs(out_dir, exist_ok=True)
        self.fail_path = os.path.join(out_dir, "_failures_left")
        with open(self.fail_path, "w") as f:
            f.write(str(fail_batches))

    def __call__(self, df):
        with open(self.fail_path) as f:
            left = int(f.read())
        if left > 0:
            with open(self.fail_path, "w") as f:
                f.write(str(left - 1))
            raise RuntimeError("sink outage (injected)")
        ids = [r.event_id for r in df.select("event_id").collect()]
        with open(os.path.join(self.out, "delivered.jsonl"), "a") as f:
            for i in ids:
                f.write(f"{i}\n")

    def delivered(self):
        p = os.path.join(self.out, "delivered.jsonl")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [int(x) for x in f.read().split()]


def _run_until_done(pipeline, spark, max_restarts=5):
    """availableNow drain with restart-on-failure — the chaos harness's
    retry loop (a failed micro-batch fails the query; the pipeline
    restarts from the checkpoint and replays)."""
    for _ in range(max_restarts):
        q = pipeline.start(spark, trigger_available_now=True)
        try:
            q.awaitTermination(120)
            return
        except Exception:
            continue
    raise AssertionError("pipeline did not recover within restart budget")


def test_sink_outage_recovers_without_loss(spark, tmp_path):
    schema = _write_chunks(spark, str(tmp_path / "src"))
    healthy = _DirSink(str(tmp_path / "healthy"))
    flaky = _DirSink(str(tmp_path / "flaky"), fail_batches=2)
    pipe = StreamingPipeline(
        name="outage",
        source=file_change_source(str(tmp_path / "src"), schema, max_files_per_trigger=1),
        sinks=[SinkSpec("healthy", healthy), SinkSpec("flaky", flaky)],
        policy=CommitPolicy(kind="required"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        offsets_path=str(tmp_path / "offsets.json"),
    )
    _run_until_done(pipe, spark)
    all_ids = set(range(30))
    # no loss on either sink once the outage clears
    assert set(flaky.delivered()) == all_ids
    assert set(healthy.delivered()) == all_ids
    # the healthy sink is never re-written for batches it committed
    # pre-outage (per-sink offset skip): exactly one delivery per event
    deliveries = healthy.delivered()
    assert len(deliveries) == len(set(deliveries))


def test_crash_recovery_resumes_from_checkpoint(spark, tmp_path):
    schema = _write_chunks(spark, str(tmp_path / "src"))
    sink = _DirSink(str(tmp_path / "out"))
    pipe = StreamingPipeline(
        name="crash",
        source=file_change_source(str(tmp_path / "src"), schema, max_files_per_trigger=1),
        sinks=[SinkSpec("out", sink)],
        checkpoint_dir=str(tmp_path / "ckpt"),
        offsets_path=str(tmp_path / "offsets.json"),
    )
    # first run drains everything; a restart against the same checkpoint
    # (the post-crash rerun) must not redeliver anything
    _run_until_done(pipe, spark)
    n_after_first = len(sink.delivered())
    _run_until_done(pipe, spark)
    assert len(sink.delivered()) == n_after_first == 30


def test_dlq_poison_stream_isolates_bad_events(spark, tmp_path):
    schema = _write_chunks(spark, str(tmp_path / "src"))
    good_sink = _DirSink(str(tmp_path / "good"))
    dlq = DlqStore(spark, str(tmp_path / "dlq"), pipeline="poison")

    def poison_split_sink(df):
        # poison = value divisible by 10 (deterministic stand-in for a
        # per-row serialization failure, chaos dlq_poison scenario)
        flagged = df.withColumn("_bad", F.col("value") % 10 == 0)
        ok, bad = split_dlq(flagged, "_bad")
        good_sink(ok.drop("_bad"))
        bad = bad.select(
            "event_id", "value", F.lit("encode error").alias("reason")
        )
        dlq.write(bad, sink_id="split", error_kind="serialization", reason_col="reason")

    pipe = StreamingPipeline(
        name="poison",
        source=file_change_source(str(tmp_path / "src"), schema, max_files_per_trigger=1),
        sinks=[SinkSpec("split", poison_split_sink)],
        checkpoint_dir=str(tmp_path / "ckpt"),
        offsets_path=str(tmp_path / "offsets.json"),
    )
    _run_until_done(pipe, spark)
    poisoned = {i for i in range(30) if (i * 2) % 10 == 0}
    assert set(good_sink.delivered()) == set(range(30)) - poisoned
    dlq_ids = {int(r.event_id) for r in dlq.peek(100).collect()}
    assert dlq_ids == poisoned


def test_snapshot_resume_skips_completed_tables(spark, tmp_path):
    """Reference per-table snapshot resume (mysql_snapshot.rs): a crash
    after N tables re-runs only the remaining ones."""
    from deltaforge_spark.sources.snapshot import SnapshotProgress, run_snapshot

    prog = SnapshotProgress(str(tmp_path / "snap.json"))
    seen = []

    def sink(table, ev):
        seen.append(table)
        if table == "nation":
            raise RuntimeError("crash mid-snapshot (injected)")
        ev.count()

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        run_snapshot(spark, "/root/testdata/sf0.001", ["region", "nation", "customer"],
                     progress=prog, sink=sink)
    assert seen == ["region", "nation"] and prog.done("region") and not prog.done("nation")

    # restart: region skipped, nation + customer run
    seen.clear()

    def sink_ok(table, ev):
        seen.append(table)
        ev.count()

    ran = run_snapshot(spark, "/root/testdata/sf0.001", ["region", "nation", "customer"],
                       progress=prog, sink=sink_ok)
    assert ran == seen == ["nation", "customer"]
    assert all(prog.done(t) for t in ("region", "nation", "customer"))


def test_streaming_quality_gate_spec(spark, tmp_path):
    """A spec-compiled pipeline with the quality_filter processor runs
    in streaming mode: low-quality events never reach the sink."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from deltaforge_spark.plans import compile_pipeline, load_spec
    from deltaforge_spark.streaming.pipeline import StreamingPipeline, file_change_source

    src = str(tmp_path / "docs")
    os.makedirs(src)
    good = ("the quick brown fox jumps over the lazy dog and then runs far away to "
            "find a quiet place by the river where it can rest with some friends and "
            "watch the water flow past the old mill while birds sing in the trees "
            "above and the sun sets slowly behind the green hills of that valley")
    rows = [(0, good), (1, "too short"), (2, good), (3, "also short")]
    pq.write_table(
        pa.table({"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}),
        f"{src}/chunk.parquet",
    )
    spec = load_spec("""
metadata: {name: qgate}
spec:
  source: {type: parquet, path: PLACEHOLDER}
  processors:
    - {type: quality_filter, column: text}
  sinks:
    - {name: out, type: noop}
""".replace("PLACEHOLDER", src))
    _, _, _ = compile_pipeline(spec)  # spec validates

    schema = spark.read.parquet(src).schema
    delivered = _DirSink(str(tmp_path / "out"))
    from deltaforge_spark.plans.compiler import _build_processor
    from deltaforge_spark.sinks.foreach import SinkSpec as _SS

    gate = _build_processor({"type": "quality_filter", "column": "text"})
    pipe = StreamingPipeline(
        name="qgate",
        source=file_change_source(src, schema),
        transforms=[gate],
        sinks=[_SS("out", lambda df: delivered(df.withColumnRenamed("doc_id", "event_id")))],
        checkpoint_dir=str(tmp_path / "ckpt"),
        offsets_path=str(tmp_path / "offsets.json"),
    )
    _run_until_done(pipe, spark)
    assert set(delivered.delivered()) == {0, 2}


def test_lake_rolling_outage_retry_no_loss_no_double_count(spark, tmp_path):
    """S3-outage analog (reference chaos s3_outage scenario) for the
    rolling writer pool: a compaction failure mid-roll raises with the
    partition's counters and staged files INTACT, the replayed batch
    skips re-counting (idempotent staging) but re-attempts the roll,
    and every input row lands exactly once in the visible tree."""
    import pytest

    from deltaforge_spark.sinks.rolling import RollingConfig, RollingLakeSink

    sink = RollingLakeSink(
        spark,
        str(tmp_path / "lake"),
        ["tbl"],
        cfg=RollingConfig(
            max_events=4, max_bytes=1 << 40, max_age_ms=1 << 40, idle_age_ms=1 << 40
        ),
        clock="event",
        ts_col="ts",
    )
    batch = spark.createDataFrame(
        [(i, "a", i) for i in range(4)], ["id", "tbl", "ts"]
    )

    # inject a store outage on the first compaction
    real = sink._compact
    calls = {"n": 0}

    def flaky(staged, tmp_dir):
        calls["n"] += 1
        if calls["n"] == 1:
            raise IOError("injected object-store outage")
        real(staged, tmp_dir)

    sink._compact = flaky
    with pytest.raises(IOError, match="outage"):
        sink.process_batch(batch, 0)
    # counters survived the failed roll; nothing visible yet
    assert sink._state["tbl=a"]["events"] == 4
    assert sink.manifest == []

    # foreachBatch replays batch 0: no double count, roll succeeds
    sink.process_batch(batch, 0)
    assert [(m["tbl"], m["n_events"], m["reason"]) for m in sink.manifest] == [
        ("a", 4, "events")
    ]
    assert spark.read.parquet(str(tmp_path / "lake" / "data")).count() == 4


def _mk_rolling_sink(spark, tmp_path):
    from deltaforge_spark.checkpoints import FileCheckpointStore
    from deltaforge_spark.sinks.rolling import RollingConfig, RollingLakeSink

    return RollingLakeSink(
        spark,
        str(tmp_path / "lake"),
        ["tbl"],
        cfg=RollingConfig(
            max_events=4, max_bytes=1 << 40, max_age_ms=1 << 40, idle_age_ms=1 << 40
        ),
        clock="event",
        ts_col="ts",
        store=FileCheckpointStore(str(tmp_path / "ckpt")),
    )


def test_lake_rolling_replay_soak_crash_windows(spark, tmp_path):
    """Replay soak (VERDICT r4 Next-round #10): kill the sink in EVERY
    distinct post-rename crash window — (a) after the file becomes
    visible but before the state persist, (b) after the persist but
    before staged cleanup — then restart + replay the same batch N
    times. File-set idempotence must hold: the roll's deterministic
    file name makes the replayed rename an overwrite of the SAME
    target, the init orphan sweep disposes of consumed staged pieces,
    and the deduped manifest sees exactly one entry. The reference's
    s3 at-least-once file-granularity contract (guarantees.md:205-214)."""
    import glob as _glob

    import pytest

    from deltaforge_spark.sinks.rolling import load_manifest

    lake = str(tmp_path / "lake")
    batch = spark.createDataFrame([(i, "a", i) for i in range(4)], ["id", "tbl", "ts"])

    # --- crash window (a): rename done, persist dies -----------------
    sink = _mk_rolling_sink(spark, tmp_path)
    real_persist = type(sink)._persist
    calls = {"n": 0}

    def dying_persist(self):
        calls["n"] += 1
        if calls["n"] == 1:  # the persist inside _roll, right after rename
            raise IOError("injected checkpoint-store outage")
        real_persist(self)

    sink._persist = dying_persist.__get__(sink)
    with pytest.raises(IOError, match="outage"):
        sink.process_batch(batch, 0)
    visible = _glob.glob(f"{lake}/data/tbl=a/*.parquet")
    assert len(visible) == 1  # file IS visible; state is behind

    # restart + replay: fence was never persisted, so the batch fully
    # re-runs — the re-roll must land on the SAME file name (overwrite),
    # not a second file
    sink2 = _mk_rolling_sink(spark, tmp_path)
    sink2.process_batch(batch, 0)
    visible2 = sorted(_glob.glob(f"{lake}/data/tbl=a/*.parquet"))
    assert visible2 == sorted(visible), "replay created a second visible file"
    assert spark.read.parquet(f"{lake}/data").count() == 4
    manifest = load_manifest(lake)
    assert [(m["tbl"], m["n_events"], m["file_seq"]) for m in manifest] == [("a", 4, 1)]
    assert sink2._staged_glob("tbl=a") == []

    # --- crash window (b): persist done, staged cleanup dies ---------
    batch2 = spark.createDataFrame([(i, "a", 100 + i) for i in range(4)], ["id", "tbl", "ts"])
    import deltaforge_spark.sinks.rolling as rolling_mod

    real_rmtree = rolling_mod.shutil.rmtree
    state = {"armed": False}

    def dying_rmtree(path, ignore_errors=False):
        if state["armed"] and "_staging" in str(path):
            state["armed"] = False
            raise IOError("injected fs outage during staged cleanup")
        real_rmtree(path, ignore_errors=ignore_errors)

    sink3 = _mk_rolling_sink(spark, tmp_path)
    rolling_mod.shutil.rmtree = dying_rmtree
    try:
        state["armed"] = True
        with pytest.raises(IOError, match="fs outage"):
            sink3.process_batch(batch2, 1)
    finally:
        rolling_mod.shutil.rmtree = real_rmtree
    # roll committed (file visible, state persisted) but staged orphaned
    assert len(_glob.glob(f"{lake}/data/tbl=a/*.parquet")) == 2
    assert sink3._staged_glob("tbl=a") != []

    # restart: init orphan sweep disposes of the consumed staged pieces;
    # the replayed batch is fenced (state persisted) and must be a no-op
    sink4 = _mk_rolling_sink(spark, tmp_path)
    assert sink4._staged_glob("tbl=a") == [], "orphaned staged pieces survived restart"
    sink4.process_batch(batch2, 1)  # foreachBatch redelivery
    assert len(_glob.glob(f"{lake}/data/tbl=a/*.parquet")) == 2
    assert spark.read.parquet(f"{lake}/data").count() == 8
    manifest = load_manifest(lake)
    assert sorted((m["file_seq"], m["n_events"]) for m in manifest) == [(1, 4), (2, 4)]

    # --- soak: N more replays of both batches change NOTHING ---------
    for _ in range(3):
        sink5 = _mk_rolling_sink(spark, tmp_path)
        sink5.process_batch(batch, 0)
        sink5.process_batch(batch2, 1)
    assert len(_glob.glob(f"{lake}/data/tbl=a/*.parquet")) == 2
    assert spark.read.parquet(f"{lake}/data").count() == 8
    assert len(load_manifest(lake)) == 2
    assert _glob.glob(f"{lake}/_staging/batch-*/tbl=*") == []


def test_binlog_purge_detected_before_resume(spark, tmp_path):
    """Chaos analog of the reference's MySQL binlog_purge scenario
    (crates/chaos/src/scenarios/binlog_purge.rs): segments 0-4 are
    purged from the store; the checkpointed position references GTIDs
    that the surviving segments cannot replay. The resume decision must
    be LOST (loud halt), never a silent decode from the middle.

    Now testable end-to-end against the REAL decoder: the surviving
    segments' executed set comes from decoding actual wire bytes."""
    from pyspark.sql import functions as F

    from deltaforge_spark.sources.binlog import (
        EVENTS_COL_NAMES,
        decode_binlog_segments,
        synth_binlog_events,
    )
    from deltaforge_spark.sources.gtid import (
        BinlogPosition,
        check_position_reachability,
        gtid_ranges_df,
    )

    path = str(tmp_path / "segments")
    synth_binlog_events(spark, "/root/testdata/sf0.001", rows_per_segment=100).write.parquet(path)
    segs = spark.read.parquet(path)
    n_total = segs.count()
    assert n_total >= 2

    # "purge" the first half of the archive
    survivors = segs.orderBy("segment").filter(F.col("segment") >= n_total // 2)
    dec = decode_binlog_segments(survivors, {("testdb", "events"): EVENTS_COL_NAMES})
    executed = gtid_ranges_df(
        dec.select(
            F.col("gtid_sid").alias("server_uuid"), F.col("gno").alias("txid")
        ).distinct()
    ).collect()
    sid = executed[0]["server_uuid"]
    executed_set = f"{sid}:{executed[0]['gtid_set']}"

    # checkpoint taken before the purge: includes gno 1 (now gone)
    saved = BinlogPosition(gtid_set=f"{sid}:1-2")
    status, reason = check_position_reachability(saved, executed_gtid=executed_set)
    assert status == "lost"
    assert "not a subset" in reason

    # a checkpoint inside the surviving range resumes cleanly
    hi = n_total  # gno = segment + 1 → last gno == n_total
    saved_ok = BinlogPosition(gtid_set=f"{sid}:{n_total // 2 + 1}-{hi}")
    status_ok, _ = check_position_reachability(saved_ok, executed_gtid=executed_set)
    assert status_ok == "reachable"


def test_corrupt_segment_fails_loudly_not_silently(spark, tmp_path):
    """Mid-archive corruption (disk/network truncation) must surface as a
    task error — a CDC stream that silently skips a corrupt segment has
    lost data without telling anyone."""
    import pyspark.errors

    import pytest as _pytest

    from deltaforge_spark.sources.binlog import (
        EVENTS_COL_NAMES,
        decode_binlog_segments,
        synth_binlog_events,
    )

    path = str(tmp_path / "segments")
    synth_binlog_events(spark, "/root/testdata/sf0.001", rows_per_segment=100).write.parquet(path)
    segs = spark.read.parquet(path)

    from pyspark.sql import functions as F

    corrupted = segs.withColumn(
        "data",
        F.when(
            F.col("segment") == 1, F.expr("substring(data, 1, 200)")
        ).otherwise(F.col("data")),
    )
    with _pytest.raises(pyspark.errors.PySparkException):
        decode_binlog_segments(
            corrupted, {("testdb", "events"): EVENTS_COL_NAMES}
        ).count()


def test_pg_capture_cut_mid_transaction(spark, tmp_path):
    """Chaos analog of the reference's pg slot/failover scenarios: the
    capture ends after a Begin but before its Commit. Default decode is
    commit-gated (the orphaned transaction's rows are withheld —
    exactly-once posture); keep_uncommitted=True surfaces them with a
    null xid for quarantine — either way the loss is ACCOUNTED, never
    silent."""
    from pyspark.sql import functions as F

    from deltaforge_spark.sources.fixtures import synth_pgoutput_orders
    from deltaforge_spark.sources.pgoutput import decode_pgoutput

    full = synth_pgoutput_orders(spark, "/root/testdata/sf0.001")
    last_commit = full.agg(F.max("seq")).collect()[0][0]
    # cut the capture just before the final Commit message
    cut = full.filter(F.col("seq") < last_commit)

    committed = decode_pgoutput(cut)
    everything = decode_pgoutput(cut, keep_uncommitted=True)
    orphans = everything.filter(F.col("xid").isNull())

    n_committed = committed.count()
    n_all = everything.count()
    n_orphans = orphans.count()
    assert n_orphans > 0                       # the cut tx really lost its commit
    assert n_all == n_committed + n_orphans    # nothing vanished unaccounted
    # committed rows are identical between the two modes
    assert (
        everything.filter(F.col("xid").isNotNull()).exceptAll(committed).count() == 0
    )


def test_corrupt_segment_routes_to_dlq_when_asked(spark, tmp_path):
    """on_error='route': the poison segment becomes ONE decode_error
    row (segment granularity — its framing can't be trusted), healthy
    segments keep flowing; the split is the DLQ posture at the decode
    stage."""
    from pyspark.sql import functions as F

    from deltaforge_spark.sources.binlog import (
        EVENTS_COL_NAMES,
        decode_binlog_segments,
        synth_binlog_events,
    )

    path = str(tmp_path / "segments")
    synth_binlog_events(spark, "/root/testdata/sf0.001", rows_per_segment=100).write.parquet(path)
    segs = spark.read.parquet(path)
    n_segments = segs.count()
    corrupted = segs.withColumn(
        "data",
        F.when(F.col("segment") == 1, F.expr("substring(data, 1, 200)")).otherwise(
            F.col("data")
        ),
    )
    cols = {("testdb", "events"): EVENTS_COL_NAMES}
    out = decode_binlog_segments(corrupted, cols, on_error="route")
    good = out.filter(F.col("decode_error").isNull())
    bad = out.filter(F.col("decode_error").isNotNull())
    assert bad.count() == 1
    assert "BinlogError" in bad.collect()[0]["decode_error"]
    clean_total = decode_binlog_segments(segs, cols).count()
    lost_segment = decode_binlog_segments(
        segs.filter(F.col("segment") == 1), cols
    ).count()
    assert good.count() == clean_total - lost_segment
    assert n_segments > 2  # the scenario actually exercises survivors
