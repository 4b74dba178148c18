"""Benchmark entry point.

    python3 perfbench/run.py --workload mysql_drain --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One run: generate the seeded inputs
(not timed), start a Spark session at ``local[<cpus>]`` and run
untimed warm-up passes: one cold pass, then ``WARMUP_PASSES`` more
(together: ``setup_s``). Then time passes until
``--seconds`` have elapsed, checking every pass's output. With
``--trace 1`` untraced passes alternate with traced ones and the
per-layer metrics are printed instead of the end-to-end ones.

Everything the run writes stays inside the checkout: inputs under
``.bench_cache/``, Spark scratch under ``.bench_tmp/`` (removed at the
end) and spans under ``.bench_out/``. The last stdout line is the JSON
result; the line before it records provenance.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: untimed warm-up passes after the first (cold) pass. A compromise:
#: after two, pass wall and CPU times (JIT compiler threads included)
#: still fall by up to a tenth over the timed passes, but each more
#: warm-up pass adds 3-7 s to every run on 4 cores
WARMUP_PASSES = 2

#: the decoder layers, which also report their Python-worker SQL metrics
DECODERS = ("sources.binlog", "sources.pgoutput")
SPARK_TOTALS = ("executor_run_s", "executor_cpu_s", "gc_s", "jobs", "failed_tasks")


def metric_names(trace: bool) -> dict[str, str]:
    """metric -> unit from BENCHMARK.json: the end-to-end list, or with
    tracing the per-layer list. The result line prints exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


# ------------------------------------------------------------ environment


def isolate(scratch: str) -> None:
    """Point every temporary path of Python, Spark and the JVM into the
    run's scratch dir, and let Python workers import the package and the
    benchmark modules."""
    os.makedirs(scratch, exist_ok=True)
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = scratch


def start_session(scratch: str, cpus: int, heap: str):
    """The engine's session conf (``session.RUNTIME_CONF``) at
    ``local[cpus]``, with all scratch paths inside the checkout."""
    from pyspark.sql import SparkSession

    from deltaforge_spark.session import RUNTIME_CONF

    # the heap is committed and touched up front (-Xms = -Xmx, pre-touch):
    # a heap that grows on demand grew differently from run to run, and
    # moved the memory figure by a fifth. -UsePerfData: no /tmp/hsperfdata
    java_opts = (f"-Djava.io.tmpdir={scratch} -Dderby.system.home={scratch} "
                 f"-Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData")
    b = (SparkSession.builder.master(f"local[{cpus}]").appName("perfbench")
         .config("spark.driver.memory", heap)
         .config("spark.driver.extraJavaOptions", java_opts)
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", os.path.join(scratch, "local"))
         .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
         .config("spark.sql.files.maxPartitionBytes", "134217728"))
    for k, v in RUNTIME_CONF.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(scratch, "checkpoints"))
    return spark


class MemSampler(threading.Thread):
    """Memory in use by the driver JVM and its descendants (the Python
    workers) over a window of one pass.

    The heap is committed and touched at start, so the JVM's resident
    size holds the whole heap, used or not; and the heap's own peak use
    follows the collector's young-generation sizing, which moved it by
    a factor of two from pass to pass. The figure therefore adds the
    heap's live data, read after a full collection at the end of the
    window, to the peak of what /proc shows beside the heap: the JVM's
    resident memory beyond the committed heap, plus the Python workers.
    Resident memory is the proportional set size: pages that the forked
    workers share with their daemon count once in total, so the figure
    does not jump with the number of idle workers alive at a sample,
    taken every 100 ms."""

    def __init__(self, spark, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak = pid, 0
        self.jvm = spark.sparkContext._jvm
        self.heap = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.heap_committed = int(self.heap.getHeapMemoryUsage().getCommitted())
        self._stop_evt = threading.Event()

    def _tree(self) -> list[int]:
        """The JVM and all its descendants."""
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        out, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except (OSError, IndexError, ValueError):
            pass
        return 0

    def _beside_heap(self) -> int:
        jvm, *workers = self._tree()
        return (max(0, self._pss(jvm) - self.heap_committed)
                + sum(self._pss(p) for p in workers))

    def cpu_s(self) -> float:
        """CPU seconds used so far by the JVM, its live descendants and
        the descendants they have reaped."""
        ticks = 0
        for p in self._tree():
            try:
                with open(f"/proc/{p}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                ticks += sum(int(x) for x in fields[11:15])
            except (OSError, IndexError, ValueError):
                pass
        return ticks / os.sysconf("SC_CLK_TCK")

    def run(self) -> None:
        while not self._stop_evt.wait(0.1):
            self.peak = max(self.peak, self._beside_heap())

    def take(self) -> tuple[int, int]:
        """(live heap, peak beside the heap) in bytes for the window
        since the last call; then start a new window. The collection
        also leaves every pass to start on an empty young generation."""
        peak = self.peak
        self.jvm.java.lang.System.gc()
        live = int(self.heap.getHeapMemoryUsage().getUsed())
        self.peak = 0
        return live, peak

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def stop_jvm() -> None:
    """End the driver JVM and wait for it; it would otherwise exit only
    after this process, once its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


# -------------------------------------------------------------- storage


def pins_left_and_clear(spark, checkpoint_root: str) -> int:
    """Persistent RDDs + CacheManager entries + checkpoint files left
    after a pass; then drop them with public Spark calls so passes stay
    independent."""
    sc = spark.sparkContext
    rdds = sc._jsc.getPersistentRDDs()
    n = int(rdds.size())
    cm = spark._jsparkSession.sharedState().cacheManager()
    try:
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        n += int(field.get(cm).size())
    except Exception:
        n += 0 if cm.isEmpty() else 1
    files = [os.path.join(d, f) for d, _, fs in os.walk(checkpoint_root) for f in fs]
    n += len(files)
    spark.catalog.clearCache()
    for rdd in list(rdds.values()):
        rdd.unpersist(True)
    for app_dir in os.listdir(checkpoint_root) if os.path.isdir(checkpoint_root) else ():
        for sub in os.listdir(os.path.join(checkpoint_root, app_dir)):
            shutil.rmtree(os.path.join(checkpoint_root, app_dir, sub), ignore_errors=True)
    return n


# --------------------------------------------------------------- output


def provenance(args, cpus: int, heap: str, load: float) -> dict:
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        head = None
    try:
        import pyspark

        spark_version = pyspark.__version__
    except ImportError:
        spark_version = None
    return {"git_head": head, "cpus": cpus, "loadavg_start": load, "seed": args.seed,
            "workload": args.workload, "trace": args.trace, "spark": spark_version,
            "python": platform.python_version(), "driver_heap": heap}


def result_line(names: dict[str, str], values: dict, attempted: int, failed: int,
                correct: bool) -> str:
    """The final JSON line. A missing or malformed value prints as null
    and counts as one more failure; this never raises."""
    metrics = {}
    for name, unit in names.items():
        v = values.get(name)
        try:
            v = float(v)
            if not math.isfinite(v):
                raise ValueError(v)
        except (TypeError, ValueError):
            v = None
            failed += 1
            correct = False
        metrics[name] = {"value": v, "unit": unit}
    return json.dumps({"correct": bool(correct), "attempted": max(1, int(attempted)),
                       "failed": int(failed), "metrics": metrics})


def layer_metrics(tracer, pass_ids: list[int], names) -> dict:
    """Per traced pass mean of each layer span's self time, its Spark
    counts and the attributes the workload recorded on it. Layers the
    workload does not run read 0."""
    n = max(1, len(pass_ids))
    out = dict.fromkeys(names, 0.0)

    def add(key: str, v) -> None:
        if key in out:
            out[key] += v / n

    for s in tracer.spans:
        if s["pass"] not in pass_ids:
            continue
        sp = s["spark"]
        for m in SPARK_TOTALS:
            add(f"spark.{m}", sp[m])
        if s["parent"] is None:
            continue
        L = s["name"]
        add(f"{L}.busy_s", tracer.self_time(s))
        for m in ("jobs", "stages", "tasks", "shuffle_bytes", "plan_ms"):
            add(f"{L}.{m}", sp[m])
        if L in DECODERS:
            for m in ("python_s", "python_boot_s", "python_bytes"):
                add(f"{L}.{m}", sp[m])
        for k, v in s["attrs"].items():
            add(f"{L}.{k}", v)
    return out


# ----------------------------------------------------------------- main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the self-test only")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "deltaforge_spark")):
        print(f"perfbench: no deltaforge_spark package under {ROOT}", file=sys.stderr)
        return 2
    names = metric_names(bool(args.trace))
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS, CheckFailed

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    load = os.getloadavg()[0]
    cpus = len(os.sched_getaffinity(0))
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "3g")
    scratch = os.path.join(ROOT, ".bench_tmp", f"run-{os.getpid()}")
    isolate(scratch)
    wl = WORKLOADS[args.workload](ROOT, args.seed, scratch, tiny=args.tiny)

    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t

    spark = sampler = None
    plain: list[float] = []
    traced: list[float] = []
    cpu: list[float] = []
    mem: list[tuple[int, int]] = []
    warm: list[float] = []
    attempted = failed = 0
    correct = True
    values: dict = {}
    try:
        spark = start_session(scratch, cpus, heap)
        from pyspark import SparkContext

        sampler = MemSampler(spark, SparkContext._gateway.proc.pid)
        sampler.start()
        checkpoints = os.path.join(scratch, "checkpoints")
        wl.setup(spark)
        pins = []
        for _ in range(1 + WARMUP_PASSES):
            warm.append(wl.run_pass(spark)[0])
            pins.append(pins_left_and_clear(spark, checkpoints))
            sampler.take()
        values["setup_s"] = time.perf_counter() - T_START - gen_s

        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        traced_ids: list[int] = []
        items = 0
        t_end = time.perf_counter() + args.seconds
        while (time.perf_counter() < t_end or not plain
               or (args.trace and not traced)):
            do_trace = args.trace and len(traced) < len(plain)
            attempted += 1
            timed = False
            try:
                if do_trace:
                    tracer.pass_id += 1
                    dt, items = wl.traced_pass(spark, tracer)
                    traced.append(dt)
                    traced_ids.append(tracer.pass_id)
                else:
                    c0 = sampler.cpu_s()
                    dt, items = wl.run_pass(spark)
                    cpu.append(sampler.cpu_s() - c0)
                    plain.append(dt)
                    timed = True
            except CheckFailed as e:
                failed += 1
                print(f"perfbench: check failed: {e}", file=sys.stderr)
                if not plain:
                    plain.append(math.nan)
            except Exception:
                failed += 1
                traceback.print_exc()
                if not plain:
                    plain.append(math.nan)
            pins.append(pins_left_and_clear(spark, checkpoints))
            window = sampler.take()
            if timed:
                mem.append(window)
            if failed > 3:
                break
        if mem:
            values["peak_mem_mb"] = statistics.median(h + r for h, r in mem) / 2**20
        try:
            wl.verify(spark)
        except Exception as e:
            failed += 1
            attempted += 1
            print(f"perfbench: verification failed: {e}", file=sys.stderr)

        good = [x for x in plain if math.isfinite(x)]
        if good:
            values["pass_s"] = statistics.median(good)
            values["events_per_s"] = items / values["pass_s"]
        if args.trace:
            values.update(layer_metrics(tracer, traced_ids, names))
            values["plans.lineage.pins_left"] = max(pins)
            good_t = [x for x in traced if math.isfinite(x)]
            if good and good_t:
                values["trace.overhead_frac"] = (statistics.median(good_t)
                                                 / values["pass_s"] - 1.0)
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.jsonl"))
    except Exception:
        traceback.print_exc()
        failed += 1
        attempted += 1
    finally:
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            spark.stop()
            stop_jvm()
        shutil.rmtree(scratch, ignore_errors=True)

    correct = correct and failed == 0
    print(json.dumps({"provenance": provenance(args, cpus, heap, load), "gen_s": gen_s,
                      "warmup_s": warm, "pass_s": plain, "pass_cpu_s": cpu, "traced_pass_s": traced,
                      "pass_mem_mb": [[h / 2**20, r / 2**20] for h, r in mem]}))
    print(result_line(names, values, attempted, failed, correct), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
