"""Spans around layer calls, and the Spark counts read at each span.

A span records name, start, end, parent and pass id. Each span runs
under its own Spark job group, so when it ends its jobs, stages, tasks,
executor time, shuffle bytes and Python-worker SQL metrics are read
from Spark's status stores (the web UI is off; the stores are not),
and the planning time of the queries it ran from their trackers.
Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

#: SQL metric display names of the Python-boundary nodes (MapInPandas,
#: Python data source scans) -> the per-layer metric they feed
_PY_METRICS = {
    "time to run Python workers": "python_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_boot_s",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``"6.9 s"``, ``"10,000"`` or
    ``"total (min, med, max ...)\\n78.6 KiB (...)"``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "", 1.0)


class SparkCounters:
    """Reads job/stage/SQL counts for a job group from the status stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def sql_execution_count(self) -> int:
        return int(self._sql.executionsCount())

    def group_counts(self, group: str, sql_from: int) -> dict:
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_bytes": 0,
               "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
               "failed_tasks": 0, "python_s": 0.0, "python_boot_s": 0.0,
               "python_bytes": 0.0}
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for s in stage_ids:
            try:
                sd = self._store.stageAttempt(
                    s, 0, False, self._no_status, False, self._no_quantiles)._1()
            except Exception:  # stage never ran (skipped) or was evicted
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(sd.numCompleteTasks()) + int(sd.numFailedTasks())
            out["failed_tasks"] += int(sd.numFailedTasks())
            out["shuffle_bytes"] += int(sd.shuffleWriteBytes())
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
        if jobs:
            self._add_python_metrics(out, set(jobs), sql_from)
        return out

    def _add_python_metrics(self, out: dict, jobs: set, sql_from: int) -> None:
        n = self.sql_execution_count() - sql_from
        if n <= 0:
            return
        execs = self._sql.executionsList(sql_from, n)
        for i in range(execs.size()):
            x = execs.apply(i)
            if not any(x.jobs().contains(j) for j in jobs):
                continue
            values = self._sql.executionMetrics(x.executionId())
            nodes = self._sql.planGraph(x.executionId()).allNodes()
            for k in range(nodes.size()):
                metrics = nodes.apply(k).metrics()
                for q in range(metrics.size()):
                    m = metrics.apply(q)
                    key = _PY_METRICS.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if not v.isEmpty():
                        out[key] += parse_sql_metric(v.get())


def phases_ms(qe) -> float:
    """Catalyst analysis + optimisation + planning time recorded by a
    ``QueryExecution``'s tracker."""
    total = 0
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        phase = it.next()._2()
        total += phase.endTimeMs() - phase.startTimeMs()
    return float(total)


class PlanTimer:
    """Sums the planning time of every query the engine runs while
    armed, whichever layer builds it.

    SQL executions (writes, collects) report their ``QueryExecution``
    to a ``QueryExecutionListener``, implemented here through the py4j
    callback server. ``DataFrame.foreachPartition`` (the Kafka sink's
    action) runs through ``df.rdd`` without a SQL execution, so it is
    wrapped to read the planned DataFrame's tracker once it returns."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.classic.dataframe import DataFrame

        self.ms = 0.0
        self._armed = False
        self._sc = spark.sparkContext
        ensure_callback_server_started(self._sc._gateway)
        spark._jsparkSession.listenerManager().register(self)
        inner, timer = DataFrame.foreachPartition, self

        def foreach_partition(df, f):
            try:
                return inner(df, f)
            finally:
                if timer._armed:
                    timer.ms += phases_ms(df._jdf.queryExecution())

        DataFrame.foreachPartition = foreach_partition

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        if self._armed:
            self.ms += phases_ms(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        self.onSuccess(func_name, qe, 0)

    def arm(self, on: bool) -> None:
        """Count only while armed, that is inside a traced pass."""
        self._armed = on

    def take(self) -> float:
        """Planning ms since the last call, once the listener bus has
        delivered every event posted so far."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        ms, self.ms = self.ms, 0.0
        return ms


class Tracer:
    """In-memory span recorder. ``span`` nests; each span gets a job
    group, and its Spark counts and planning time are read when it
    closes. Counts and planning time are the span's own, without its
    children's."""

    def __init__(self, spark):
        self.spark = spark
        self.counters = SparkCounters(spark)
        self.plans = PlanTimer(spark)
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.pass_id = 0

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1]["id"] if self._stack else None
        if parent is None:
            self.plans.arm(True)
        else:  # planning so far belongs to the enclosing span
            self._stack[-1]["plan_ms"] += self.plans.take()
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "pass": self.pass_id, "attrs": {}, "plan_ms": 0.0}
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"perfbench-{self.pass_id}-{rec['id']}"
        sc.setJobGroup(group, name)
        sql_from = self.counters.sql_execution_count()
        rec["start"] = time.perf_counter()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["spark"] = self.counters.group_counts(group, sql_from)
            rec["spark"]["plan_ms"] = rec.pop("plan_ms") + self.plans.take()
            if parent is None:
                self.plans.arm(False)
            if self._stack:
                sc.setJobGroup(f"perfbench-{self.pass_id}-{self._stack[-1]['id']}",
                               self._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its child spans cover."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - sum(k["end"] - k["start"] for k in kids)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
