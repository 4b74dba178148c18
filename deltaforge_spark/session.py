"""SparkSession construction tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same conf set is
what we would ship as ``spark-defaults`` on a real cluster (AQE on,
shuffle partitions sized to cores, Arrow enabled for the Python hops).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf we can safely (re)apply at runtime on someone else's session.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    # driver testdata writes TIMESTAMP(NANOS) parquet, which Spark's reader
    # rejects by default; read as raw nanos (long) and convert explicitly
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # hot-key mitigation for the big CDC/dedup joins: AQE splits skewed
    # partitions at runtime (default-on in recent Spark; pinned so a
    # cluster-side default change can't silently regress the skew story)
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # externally-owned sessions default to 200 shuffle partitions — far too
    # many for local test scale; AQE coalesces upward when needed
    "spark.sql.shuffle.partitions": "32",
    # Python workers start from a daemon that stops every task from
    # re-reading pyspark.zip's directory (0.2-0.4 s CPU per task);
    # see pyworker.py. A core conf: it only takes effect at session build
    "spark.python.daemon.module": "deltaforge_spark.pyworker",
}


def _scratch_dir() -> str:
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    path = os.path.join(base, "deltaforge-spark-local")
    os.makedirs(path, exist_ok=True)
    return path


# cgroup v2, then v1: the memory limit of the container the driver runs in
_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def _default_driver_memory() -> str:
    """``spark.driver.memory`` when ``SPARK_GRAFT_DRIVER_MEM`` is unset:
    the smaller of 48g and half the memory this process may use — the
    cgroup limit when one is set, else physical RAM. A 48g heap on a
    smaller host lets the JVM grow until the host runs out of memory."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():  # v2 writes "max" and v1 a huge number when unset
            limit = min(limit, int(raw))
        break
    return f"{min(48 << 10, (limit // 2) >> 20)}m"


def get_spark(app_name: str = "deltaforge_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a tuned local session.

    ``spark.sql.shuffle.partitions`` is sized to the core count rather
    than the 200 default: on a cluster you want 2-3x total cores (AQE
    coalesces the excess); tiny-partition storms hurt at both scales.
    """
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # shuffle/spill scratch on tmpfs: the container's disk is shared
        # with other tenants and shuffle-merge IO stalls for minutes under
        # their load; RAM-backed local dirs take disk out of the hot path
        # (on a real cluster this is NVMe-backed local dirs instead)
        .config("spark.local.dir", _scratch_dir())
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in RUNTIME_CONF.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_checkpoint_dir(spark)
    return spark


def ensure_checkpoint_dir(spark: SparkSession) -> None:
    """Make ``plans.lineage.pin``'s RELIABLE branch live by default
    (VERDICT r10 #3: it was dead code in production — nothing ever set
    a checkpoint dir, so every archive replay took localCheckpoint,
    where one lost executor fails the job instead of recomputing).

    Resolution order: an already-configured dir wins; then the
    ``spark.deltaforge.checkpointDir`` conf (the cluster knob — MUST
    point at shared storage, e.g. HDFS/S3); else local masters default
    under the scratch dir (executors share the driver filesystem
    there). Non-local masters with no explicit dir stay unset —
    defaulting to a driver-local file: path on a real cluster would
    write checkpoints nowhere the executors agree on — and pin()
    falls back to localCheckpoint (the documented opt-out trade-off).
    The per-app UUID subdir Spark creates is removed at exit."""
    sc = spark.sparkContext
    if sc.getCheckpointDir() is not None:
        return
    try:
        explicit = spark.conf.get("spark.deltaforge.checkpointDir", None)
    except Exception:
        explicit = None
    if explicit:
        sc.setCheckpointDir(explicit)
        return
    if not sc.master.startswith("local"):
        return
    base = os.path.join(_scratch_dir(), "checkpoints")
    os.makedirs(base, exist_ok=True)
    sc.setCheckpointDir(base)
    created = sc.getCheckpointDir()
    if created:
        import atexit
        import shutil

        atexit.register(
            shutil.rmtree, _local_checkpoint_path(created), ignore_errors=True
        )


def _local_checkpoint_path(uri: str) -> str:
    """getCheckpointDir returns a 'file:'-scheme URI (ADVICE r11):
    rmtree on the raw URI raises FileNotFoundError (swallowed by
    ignore_errors) and the per-app UUID dir — with any un-released
    reliable-checkpoint files — leaks RAM-backed tmpfs across runs.
    Strip the scheme the same way tests/test_lineage.py does."""
    import urllib.parse

    return urllib.parse.urlparse(uri).path or uri


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Defensively apply runtime-settable conf on an externally-owned
    session (the correctness driver builds its own); UTC timezone keeps
    timestamp collection deterministic vs the DuckDB oracle."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf may be static on some builds — best effort
            pass
    ensure_checkpoint_dir(spark)
    return spark
