"""DLQ lifecycle matrix — mirrors reference dlq.rs:23-330: seq
assignment, payload truncation, overflow policies
drop_oldest|reject|block, peek/ack/purge, age expiry."""

import pyspark.sql.functions as F
import pytest

from deltaforge_spark.sinks.dlq import DlqOverflowError, DlqStore


def _events(spark, ids):
    return spark.createDataFrame(
        [(i, f"payload-{i}") for i in ids], ["event_id", "data"]
    )


def _store(spark, tmp_path, **kw):
    kw.setdefault("pipeline", "p1")
    return DlqStore(spark, str(tmp_path / "dlq"), **kw)


def test_write_assigns_monotonic_seq_and_metadata(spark, tmp_path):
    dlq = _store(spark, tmp_path)
    n = dlq.write(_events(spark, [1, 2, 3]), sink_id="kafka", error_kind="serialization")
    assert n == 3
    rows = dlq.peek(10).collect()
    assert [r["seq"] for r in rows] == [0, 1, 2]
    assert all(r["pipeline"] == "p1" and r["sink_id"] == "kafka" for r in rows)
    assert all(not r["payload_truncated"] for r in rows)
    # second batch continues the sequence
    dlq.write(_events(spark, [4]), sink_id="kafka", error_kind="routing")
    assert [r["seq"] for r in dlq.peek(10).collect()] == [0, 1, 2, 3]


def test_payload_truncation(spark, tmp_path):
    dlq = _store(spark, tmp_path, max_event_bytes=32)
    big = spark.createDataFrame([(1, "x" * 500)], ["event_id", "data"])
    dlq.write(big, sink_id="s", error_kind="serialization")
    row = dlq.peek(1).collect()[0]
    assert row["payload_truncated"] is True
    assert len(row["payload"]) == 32


def test_overflow_drop_oldest_keeps_newest(spark, tmp_path):
    dlq = _store(spark, tmp_path, max_entries=4, overflow_policy="drop_oldest")
    dlq.write(_events(spark, [1, 2, 3]), sink_id="s", error_kind="e")
    dlq.write(_events(spark, [4, 5, 6]), sink_id="s", error_kind="e")
    rows = dlq.peek(10).collect()
    assert len(rows) == 4
    assert [r["seq"] for r in rows] == [2, 3, 4, 5]  # oldest two evicted


def test_overflow_reject_drops_new_entries(spark, tmp_path):
    dlq = _store(spark, tmp_path, max_entries=4, overflow_policy="reject")
    dlq.write(_events(spark, [1, 2, 3]), sink_id="s", error_kind="e")
    written = dlq.write(_events(spark, [4, 5, 6]), sink_id="s", error_kind="e")
    assert written == 1  # only the remaining room
    assert dlq.queue_len() == 4
    assert dlq.write(_events(spark, [7]), sink_id="s", error_kind="e") == 0


def test_overflow_block_fails_batch_for_replay(spark, tmp_path):
    dlq = _store(spark, tmp_path, max_entries=3, overflow_policy="block")
    dlq.write(_events(spark, [1, 2]), sink_id="s", error_kind="e")
    with pytest.raises(DlqOverflowError, match="dlq full"):
        dlq.write(_events(spark, [3, 4]), sink_id="s", error_kind="e")
    assert dlq.queue_len() == 2  # nothing partially written
    # after consumers ack, the replay succeeds
    dlq.ack([0])
    assert dlq.write(_events(spark, [3, 4]), sink_id="s", error_kind="e") == 2


def test_peek_does_not_remove(spark, tmp_path):
    dlq = _store(spark, tmp_path)
    dlq.write(_events(spark, [1, 2, 3]), sink_id="s", error_kind="e")
    assert len(dlq.peek(2).collect()) == 2
    assert dlq.queue_len() == 3


def test_ack_removes_selected(spark, tmp_path):
    dlq = _store(spark, tmp_path)
    dlq.write(_events(spark, [1, 2, 3]), sink_id="s", error_kind="e")
    assert dlq.ack([0, 2]) == 2
    rows = dlq.peek(10).collect()
    assert [r["seq"] for r in rows] == [1]


def test_purge_drops_all(spark, tmp_path):
    dlq = _store(spark, tmp_path)
    dlq.write(_events(spark, [1, 2]), sink_id="s", error_kind="e")
    assert dlq.purge() == 2
    assert dlq.queue_len() == 0


def test_expiry_drops_old_entries(spark, tmp_path):
    day_ms = 86400_000
    dlq = _store(spark, tmp_path, retention_days=7)
    dlq.write(_events(spark, [1]), sink_id="s", error_kind="e", now_ms=0)
    dlq.write(_events(spark, [2]), sink_id="s", error_kind="e", now_ms=6 * day_ms)
    assert dlq.expire(now_ms=8 * day_ms) == 1  # entry at t=0 aged out
    rows = dlq.peek(10).collect()
    assert [r["event_id"] for r in rows] == ["2"]


def test_error_message_from_reason_col(spark, tmp_path):
    dlq = _store(spark, tmp_path)
    failed = spark.createDataFrame(
        [(1, "bad topic")], ["event_id", "why"]
    )
    dlq.write(failed, sink_id="s", error_kind="routing", reason_col="why")
    assert dlq.peek(1).collect()[0]["error_message"] == "bad topic"


def test_writes_leave_no_persistent_rdds(spark, tmp_path):
    """Each write numbers its batch behind a local checkpoint; a
    long-running pipeline must not keep one per DLQ write."""
    dlq = _store(spark, tmp_path)
    jsc = spark.sparkContext._jsc
    before = int(jsc.getPersistentRDDs().size())
    for i in range(4):
        dlq.write(_events(spark, [i]), sink_id="s", error_kind="e")
    assert dlq.queue_len() == 4
    assert int(jsc.getPersistentRDDs().size()) == before
