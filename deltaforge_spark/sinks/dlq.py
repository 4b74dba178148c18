"""Dead-letter queue: per-event failures split out of the batch instead
of blocking it.

Re-expresses the reference's DLQ (reference: crates/runner/src/dlq.rs:23-330
— storage-backed queue, overflow policies, REST peek/ack). In a
DataFrame engine the idiomatic shape is a *split*: a predicate marks
rows that failed a conversion/routing step, the healthy subset flows on,
failures append to a DLQ table with error metadata. Overflow policies
become table-retention policies (the queue is a parquet/Delta table, not
a bounded ring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def split_dlq(df: DataFrame, error_col) -> tuple[DataFrame, DataFrame]:
    """Split into (ok, failed) on a boolean error column/expression.
    ``error_col`` may be a column name or a Column predicate."""
    pred = F.col(error_col) if isinstance(error_col, str) else error_col
    pred = F.coalesce(pred.cast("boolean"), F.lit(False))
    return df.filter(~pred), df.filter(pred)


def write_dlq(
    failed: DataFrame,
    path: str,
    *,
    pipeline: str,
    stage: str,
    reason_col=None,
) -> None:
    """Append failed events to the DLQ table with provenance metadata
    (reference journal entry shape: deltaforge-core/src/journal.rs:13-46)."""
    reason = (
        (F.col(reason_col) if isinstance(reason_col, str) else reason_col)
        if reason_col is not None
        else F.lit(None).cast("string")
    )
    out = (
        failed.withColumn("dlq_pipeline", F.lit(pipeline))
        .withColumn("dlq_stage", F.lit(stage))
        .withColumn("dlq_reason", reason)
        .withColumn("dlq_ts", F.current_timestamp())
    )
    out.write.mode("append").parquet(path)


def strict_routing_dlq(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The reference's strict-topic rule: events whose resolved routing
    topic is null (missing template field) go to the DLQ
    (common/src/routing.rs strict resolution; docs/src/routing.md)."""
    return split_dlq(df, F.col("routing").isNotNull() & F.col("routing.topic").isNull())


# ------------------------------------------------------------ DLQ lifecycle
#
# Reference dlq.rs:23-330: the DLQ is a bounded FIFO journal queue with
# seq numbers, payload truncation, overflow policies
# drop_oldest|reject|block, REST peek/ack/purge, and age-based expiry.
# Spark re-expression: the queue is a versioned parquet table — every
# mutation writes a new version directory and atomically swaps a HEAD
# pointer (read-own-write over parquet is unsafe; the version swap gives
# the same atomic-append the StorageBackend queue primitives provide).
# Driver-side counts here are bounded by max_entries (config, not data
# volume), so they are control-plane cost, not a scale hazard.


class DlqOverflowError(RuntimeError):
    """Block policy: the queue is full — fail the micro-batch so it
    replays after consumers ack (the pull-based form of dlq.rs Block,
    which waits on ack_notify)."""


class DlqStore:
    """Bounded DLQ over a versioned parquet table.

    Entry schema mirrors the reference journal entry
    (deltaforge-core/src/journal.rs:13-46): seq, timestamp_ms, pipeline,
    event_id, payload (JSON event), payload_truncated, sink_id,
    error_kind, error_message, attempts.
    """

    def __init__(
        self,
        spark,
        path: str,
        *,
        pipeline: str,
        max_entries: int = 10000,
        overflow_policy: str = "drop_oldest",
        max_event_bytes: int = 65536,
        retention_days: int = 7,
    ):
        assert overflow_policy in ("drop_oldest", "reject", "block")
        self.spark = spark
        self.path = path
        self.pipeline = pipeline
        self.max_entries = max_entries
        self.overflow_policy = overflow_policy
        self.max_event_bytes = max_event_bytes
        self.retention_days = retention_days

    # -- versioned storage ------------------------------------------------

    def _head_path(self) -> str:
        import os

        return os.path.join(self.path, "HEAD")

    def _version(self) -> int:
        import os

        try:
            with open(self._head_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1
        except OSError:
            return -1

    def _empty(self) -> DataFrame:
        schema = (
            "seq long, timestamp_ms long, pipeline string, event_id string, "
            "payload string, payload_truncated boolean, sink_id string, "
            "error_kind string, error_message string, attempts int"
        )
        return self.spark.createDataFrame([], schema)

    def _df(self) -> DataFrame:
        import os

        v = self._version()
        if v < 0:
            return self._empty()
        return self.spark.read.parquet(os.path.join(self.path, f"v{v}"))

    def _commit(self, df: DataFrame) -> None:
        import os

        v = self._version() + 1
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(self.path, f"v{v}")
        )
        os.makedirs(self.path, exist_ok=True)
        tmp = f"{self._head_path()}.tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._head_path())

    # -- queue API --------------------------------------------------------

    def queue_len(self) -> int:
        return self._df().count()

    def write(
        self,
        failed: DataFrame,
        *,
        sink_id: str,
        error_kind: str,
        reason_col=None,
        now_ms: int | None = None,
    ) -> int:
        """Append failed events (any schema — serialized to JSON payload)
        with truncation + overflow policy. Returns entries written."""
        import time

        now = now_ms if now_ms is not None else int(time.time() * 1000)
        reason = (
            (F.col(reason_col) if isinstance(reason_col, str) else reason_col)
            if reason_col is not None
            else F.lit(None).cast("string")
        )
        payload = F.to_json(F.struct(*failed.columns))
        truncated = F.length(payload) > self.max_event_bytes
        entries = failed.select(
            F.lit(now).alias("timestamp_ms"),
            F.lit(self.pipeline).alias("pipeline"),
            F.coalesce(
                F.col("event_id").cast("string")
                if "event_id" in failed.columns
                else F.lit(None).cast("string"),
                F.lit(""),
            ).alias("event_id"),
            F.when(truncated, F.substring(payload, 1, self.max_event_bytes))
            .otherwise(payload)
            .alias("payload"),
            truncated.alias("payload_truncated"),
            F.lit(sink_id).alias("sink_id"),
            F.lit(error_kind).alias("error_kind"),
            reason.alias("error_message"),
            F.lit(1).alias("attempts"),
        )

        from ..metrics import get_registry

        metrics = get_registry()

        cur = self._df()
        cur_len = cur.count()
        incoming = entries.count()

        if self.overflow_policy == "block" and cur_len + incoming > self.max_entries:
            metrics.inc(
                "deltaforge_dlq_write_failures_total", pipeline=self.pipeline
            )
            raise DlqOverflowError(
                f"dlq full ({cur_len}/{self.max_entries}); blocking batch for replay"
            )
        if self.overflow_policy == "reject":
            room = max(0, self.max_entries - cur_len)
            if incoming > room:
                metrics.inc(
                    "deltaforge_dlq_rejected_total",
                    incoming - room,
                    pipeline=self.pipeline,
                )
            if room == 0:
                return 0
            entries = entries.limit(room)
            incoming = min(incoming, room)

        from pyspark.sql import Window

        from ..plans.lineage import release_pinned

        base = cur.agg(F.coalesce(F.max("seq"), F.lit(-1)).alias("m")).collect()[0]["m"]
        # dense seq assignment WITHOUT a single-partition global sort:
        # rows are numbered within their partition (parallel window),
        # then shifted by exclusive per-partition offsets — O(#partitions)
        # driver state, the same shape as a distributed zipWithIndex.
        # localCheckpoint pins partition ids/row order so the counts
        # action and the numbering pass see identical layouts.
        tagged = (
            entries.withColumn("_pid", F.spark_partition_id())
            .withColumn("_mid", F.monotonically_increasing_id())
            .localCheckpoint()
        )
        try:
            pcounts = sorted(
                (r["_pid"], r["_n"])
                for r in tagged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).collect()
            )
            offsets, acc = {}, 0
            for pid, cnt in pcounts:
                offsets[pid] = acc
                acc += cnt
            off_expr = F.lit(0)
            if offsets:
                off_expr = F.coalesce(
                    *[F.when(F.col("_pid") == pid, F.lit(off)) for pid, off in offsets.items()],
                    F.lit(0),
                )
            wp = Window.partitionBy("_pid").orderBy("_mid")
            numbered = tagged.withColumn(
                "seq",
                (F.row_number().over(wp) - F.lit(1) + off_expr + F.lit(base + 1)).cast("long"),
            ).select(*[f.name for f in self._empty().schema.fields])

            merged = cur.unionByName(numbered)
            if self.overflow_policy == "drop_oldest" and cur_len + incoming > self.max_entries:
                # FIFO eviction: keep the newest max_entries by seq
                metrics.inc(
                    "deltaforge_dlq_evicted_total",
                    cur_len + incoming - self.max_entries,
                    pipeline=self.pipeline,
                )
                merged = (
                    merged.orderBy(F.col("seq").desc()).limit(self.max_entries)
                )
            self._commit(merged)
        finally:
            # the checkpoint backs nothing once the merge is committed
            release_pinned(tagged)
        metrics.inc("deltaforge_dlq_events_total", incoming, pipeline=self.pipeline)
        n_now = min(cur_len + incoming, self.max_entries)
        metrics.set("deltaforge_dlq_entries", n_now, pipeline=self.pipeline)
        metrics.set(
            "deltaforge_dlq_saturation_ratio",
            n_now / self.max_entries if self.max_entries else 0.0,
            pipeline=self.pipeline,
        )
        return incoming

    def peek(self, n: int = 10) -> DataFrame:
        """Oldest n entries, not removed (REST GET /dlq)."""
        return self._df().orderBy("seq").limit(n)

    def ack(self, seqs: list[int]) -> int:
        """Acknowledge (remove) processed entries (REST POST /dlq/ack)."""
        cur = self._df()
        remaining = cur.filter(~F.col("seq").isin([int(s) for s in seqs]))
        self._commit(remaining)
        return cur.count() - remaining.count()

    def purge(self) -> int:
        """Drop everything (REST DELETE /dlq)."""
        n = self.queue_len()
        self._commit(self._empty())
        return n

    def expire(self, *, now_ms: int | None = None) -> int:
        """Age-based expiry: entries older than retention_days are
        dropped (dlq.rs 7-day default)."""
        import time

        now = now_ms if now_ms is not None else int(time.time() * 1000)
        cutoff = now - self.retention_days * 86400_000
        cur = self._df()
        remaining = cur.filter(F.col("timestamp_ms") >= cutoff)
        dropped = cur.count() - remaining.count()
        if dropped:
            self._commit(remaining)
        return dropped
