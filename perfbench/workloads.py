"""The benchmark workloads. Each drives the engine only through its
public functions, on inputs from ``gen``.

A workload has:
- ``generate()``: build or reuse its seeded inputs (not timed);
- ``setup(spark)``: register the sources it reads;
- ``run_pass(spark)``: one timed pass -> (seconds, items committed).
  It raises ``CheckFailed`` when an output differs from the generator's
  expectation;
- ``traced_pass(spark, tracer)``: the same work with every layer's
  output staged to disk, under one span per layer;
- ``verify(spark)``: an extra, unmeasured check run once per run.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark import AccumulatorParam
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen


class CheckFailed(RuntimeError):
    """An output of the engine differs from the expected outcome."""


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows
               for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


# ----------------------------------------------------- kafka timing wrapper

#: slots of the Kafka sink accumulator
KAFKA_STATS = ("txns", "send_s", "commit_s", "aborts", "bytes")


class VectorParam(AccumulatorParam):
    def zero(self, value):
        return [0.0] * len(value)

    def addInPlace(self, a, b):
        return [x + y for x, y in zip(a, b)]


class TimedProducer:
    """Wraps a transactional producer; adds commits, send and commit
    seconds, aborts and payload bytes to an accumulator."""

    def __init__(self, inner, acc):
        self.inner, self.acc = inner, acc
        self.stats = [0.0] * len(KAFKA_STATS)

    def init_transactions(self):
        self.inner.init_transactions()

    def begin_transaction(self):
        self.inner.begin_transaction()

    def send(self, topic, key, value, headers_json=None):
        t = time.perf_counter()
        self.inner.send(topic, key, value, headers_json)
        self.stats[1] += time.perf_counter() - t
        self.stats[4] += len(value or b"") + len(key or b"")

    def commit_transaction(self):
        t = time.perf_counter()
        self.inner.commit_transaction()
        self.stats[2] += time.perf_counter() - t
        self.stats[0] += 1
        self._flush()

    def abort_transaction(self):
        self.stats[3] += 1
        self._flush()
        self.inner.abort_transaction()

    def _flush(self):
        self.acc.add(self.stats)
        self.stats = [0.0] * len(KAFKA_STATS)


def timed_factory(inner, acc):
    def factory(txn_id):
        return TimedProducer(inner(txn_id), acc)

    return factory


# ----------------------------------------------------------------- drains

IMAGE_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("ts", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("amount", T.StringType()),
    T.StructField("doc", T.StringType()),
    T.StructField("score", T.DoubleType()),
])


class MysqlDrain:
    """Backlog drain: binlog segment files -> binlog_change_feed ->
    apply_filter -> envelope_native -> with_routing -> write_kafka_eos
    over the Kafka wire protocol to a loopback broker."""

    name = "mysql_drain"
    n_events = 60_000
    broker_workers = 2
    kafka_partitions = 8

    def __init__(self, root: str, seed: int, scratch: str, tiny: bool = False):
        self.root, self.seed, self.scratch = root, seed, scratch
        if tiny:
            self.n_events = 2_000

    def generate(self) -> None:
        self.dir, self.expected = gen.gen_binlog(self.root, self.seed, self.n_events)
        self.columns = {(gen.BINLOG_DB, t): gen.BINLOG_COLUMNS
                        for t in self.expected["tables"]}

    def setup(self, spark) -> None:
        pass  # binaryFile is built in

    def _feed(self, spark):
        from deltaforge_spark.sources.binlog import binlog_change_feed

        segs = (spark.read.format("binaryFile").option("pathGlobFilter", "binlog.*")
                .load(self.dir).select(F.col("content").alias("data")))
        return binlog_change_feed(segs, self.columns, IMAGE_SCHEMA, pipeline="bench")

    @staticmethod
    def _route(df):
        from deltaforge_spark.operators import (FilterSpec, apply_filter,
                                                envelope_native, with_routing)

        kept = apply_filter(df, FilterSpec(
            ops=["c", "u", "d"], fields=[{"field": "score", "op": "gte", "value": 0}]))
        return with_routing(envelope_native(kept), topic_template="cdc.${source.table}",
                            key_template="${event_id}")

    def _deliver(self, df, broker, producer_factory=None):
        from deltaforge_spark.sinks.kafka_eos import write_kafka_eos
        from deltaforge_spark.sinks.kafkawire import kafka_wire_producer_factory

        factory = kafka_wire_producer_factory("127.0.0.1", broker.port,
                                              num_partitions=self.kafka_partitions)
        if producer_factory is not None:
            factory = producer_factory(factory)
        write_kafka_eos(df, factory, pipeline="bench", sink_id="kafka")

    def _check(self, broker) -> int:
        got = broker.n_committed_records()
        if got != self.expected["kept"]:
            raise CheckFailed(f"kafka committed {got} records, expected {self.expected['kept']}")
        return got

    def run_pass(self, spark, *, validate: bool = False):
        from deltaforge_spark.sinks.kafkawire import ProcessKafkaBroker

        broker = ProcessKafkaBroker(workers=self.broker_workers, validate=validate)
        try:
            t = time.perf_counter()
            self._deliver(self._route(self._feed(spark)), broker)
            dt = time.perf_counter() - t
            return dt, self._check(broker)
        finally:
            broker.close()

    def verify(self, spark) -> None:
        """One more pass against a broker that decodes every batch."""
        self.run_pass(spark, validate=True)

    def traced_pass(self, spark, tracer):
        from deltaforge_spark.sinks.kafkawire import ProcessKafkaBroker

        stage = os.path.join(self.scratch, f"stage-{tracer.pass_id}")
        broker = ProcessKafkaBroker(workers=self.broker_workers, validate=False)
        try:
            t = time.perf_counter()
            with tracer.span("pass"):
                with tracer.span("sources.binlog") as a:
                    feed = self._feed(spark)
                    feed.write.mode("overwrite").parquet(f"{stage}/feed")
                    a["rows_out"] = _parquet_rows(f"{stage}/feed")
                with tracer.span("operators") as a:
                    staged = spark.read.parquet(f"{stage}/feed")
                    routed = self._route(staged)
                    a["rows_in"] = _parquet_rows(f"{stage}/feed")
                    routed.write.mode("overwrite").parquet(f"{stage}/routed")
                    a["rows_out"] = _parquet_rows(f"{stage}/routed")
                with tracer.span("sinks.kafka_eos") as a:
                    staged = spark.read.parquet(f"{stage}/routed")
                    acc = spark.sparkContext.accumulator([0.0] * len(KAFKA_STATS),
                                                         VectorParam())
                    self._deliver(staged, broker, lambda f: timed_factory(f, acc))
                    a["rows_out"] = broker.n_committed_records()
                    a.update(zip(KAFKA_STATS, acc.value))
            dt = time.perf_counter() - t
            return dt, self._check(broker)
        finally:
            broker.close()
            shutil.rmtree(stage, ignore_errors=True)


class PgDrain:
    """Backlog drain: pgoutput spool files -> pgoutput_spool format ->
    pgoutput_change_feed -> envelope_debezium -> RollingLakeSink."""

    name = "pg_drain"
    n_events = 20_000

    def __init__(self, root: str, seed: int, scratch: str, tiny: bool = False):
        self.root, self.seed, self.scratch = root, seed, scratch
        if tiny:
            self.n_events = 2_000

    def generate(self) -> None:
        self.dir, self.expected = gen.gen_pgoutput(self.root, self.seed, self.n_events)

    def setup(self, spark) -> None:
        from deltaforge_spark.sources.datasource import register

        register(spark)

    def _feed(self, spark):
        from deltaforge_spark.sources.pgoutput import pgoutput_change_feed

        stream = spark.read.format("pgoutput_spool").option("path", self.dir).load()
        return pgoutput_change_feed(stream, IMAGE_SCHEMA, pipeline="bench")

    @staticmethod
    def _envelope(df):
        from deltaforge_spark.operators import envelope_debezium

        return envelope_debezium(df).select(
            "op", F.col("source.table").alias("table"),
            F.coalesce(F.col("after.id"), F.col("before.id")).alias("key"), "value")

    def _lake(self) -> str:
        path = os.path.join(self.scratch, "lake")
        shutil.rmtree(path, ignore_errors=True)
        return path

    @staticmethod
    def _write(spark, df, path: str):
        from deltaforge_spark.sinks.rolling import RollingLakeSink

        # partitioned by op, not by table: the seed varies the table count,
        # and one rolled file per partition would make the sink's work
        # follow it
        sink = RollingLakeSink(spark, path, ["op"], sink_id="bench")
        sink.process_batch(df, 0)
        sink.close()
        return sink

    def _check(self, path: str) -> int:
        import pyarrow.dataset as ds

        t = ds.dataset(os.path.join(path, "data"), format="parquet",
                       partitioning="hive").to_table(columns=["key", "op"])
        keys, ops = t.column("key").to_pylist(), t.column("op").to_pylist()
        if len(keys) != self.expected["events"]:
            raise CheckFailed(f"lake holds {len(keys)} rows, expected {self.expected['events']}")
        if gen.key_op_hash(zip(keys, ops)) != self.expected["key_op_hash"]:
            raise CheckFailed("lake (key, op) hash differs from the generator's")
        return len(keys)

    def run_pass(self, spark):
        path = self._lake()
        try:
            t = time.perf_counter()
            self._write(spark, self._envelope(self._feed(spark)), path)
            dt = time.perf_counter() - t
            return dt, self._check(path)
        finally:
            shutil.rmtree(path, ignore_errors=True)

    def verify(self, spark) -> None:
        pass  # every pass already checks rows and the (key, op) hash

    def traced_pass(self, spark, tracer):
        stage = os.path.join(self.scratch, f"stage-{tracer.pass_id}")
        path = self._lake()
        try:
            t = time.perf_counter()
            with tracer.span("pass"):
                with tracer.span("sources.pgoutput") as a:
                    feed = self._feed(spark)
                    feed.write.mode("overwrite").parquet(f"{stage}/feed")
                    a["rows_out"] = _parquet_rows(f"{stage}/feed")
                with tracer.span("operators") as a:
                    staged = spark.read.parquet(f"{stage}/feed")
                    env = self._envelope(staged)
                    a["rows_in"] = _parquet_rows(f"{stage}/feed")
                    env.write.mode("overwrite").parquet(f"{stage}/env")
                    a["rows_out"] = _parquet_rows(f"{stage}/env")
                with tracer.span("sinks.rolling") as a:
                    staged = spark.read.parquet(f"{stage}/env")
                    sink = self._write(spark, staged, path)
                    a["rows_out"] = _parquet_rows(os.path.join(path, "data"))
                    a["files_rolled"] = len(sink.manifest)
                    a["bytes_written"] = sum(
                        os.path.getsize(p) for p in
                        glob.glob(os.path.join(path, "data", "**", "*.parquet"),
                                  recursive=True))
            dt = time.perf_counter() - t
            return dt, self._check(path)
        finally:
            shutil.rmtree(path, ignore_errors=True)
            shutil.rmtree(stage, ignore_errors=True)


WORKLOADS = {w.name: w for w in (MysqlDrain, PgDrain)}
