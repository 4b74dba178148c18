"""Optimization-round measurement sweep: time EVERY declared query via
the noop sink (guide §1.4) at $SPARK_GRAFT_SF_DIR, min-of-N, and dump
one JSON object {name: {"min": sec, "passes": n}} to the path given as
argv[1] (default /tmp/time_all.json).

This is a measurement harness for the optimization rounds, NOT the
driver bench (bench.py keeps the driver contract untouched). It stages
inputs to tmpfs with bench.stage_to_tmpfs so the numbers isolate
compute, labels every job (guide §1.5), and warms each plan once at
sf0.001 so codegen/JIT is excluded, same methodology as bench.py.

Usage: python tools/time_all.py [out.json] [--passes N] [--only a,b,c]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import materialize, stage_to_tmpfs  # noqa: E402
from deltaforge_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    out_path = "/tmp/time_all.json"
    n_passes = 2
    only: set[str] = set()
    rest = []
    i = 0
    while i < len(args):
        if args[i] == "--passes":
            n_passes = int(args[i + 1])
            i += 2
        elif args[i] == "--only":
            only = set(args[i + 1].split(","))
            i += 2
        else:
            rest.append(args[i])
            i += 1
    if rest:
        out_path = rest[0]

    sf_src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_dir = stage_to_tmpfs(sf_src)
    warm_dir = stage_to_tmpfs("/root/testdata/sf0.001")
    spark = get_spark("time_all")

    import __spark_entry__ as entry

    qs = entry.queries()
    names = [n for n in qs if not only or n in only]

    # warm pass: codegen + Python-worker spawn excluded, as bench.py does
    for name in names:
        try:
            spark.sparkContext.setJobDescription(f"warm:{name}")
            materialize(lambda: qs[name](spark, warm_dir))
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            print(f"  warm FAIL {name}: {e}", file=sys.stderr, flush=True)
    print("warmup done", file=sys.stderr, flush=True)

    results: dict[str, dict] = {}
    for p in range(n_passes):
        for name in names:
            spark.sparkContext.setJobDescription(f"timed:{name}")
            t0 = time.perf_counter()
            err = None
            try:
                materialize(lambda: qs[name](spark, sf_dir))
            except Exception as e:  # noqa: BLE001
                err = f"{type(e).__name__}: {e}"
            sec = round(time.perf_counter() - t0, 3)
            row = results.setdefault(name, {"min": sec, "passes": 0})
            row["passes"] += 1
            row["min"] = min(row["min"], sec)
            if err:
                row["err"] = err[:300]
            print(f"  [{p}] {name}: {sec}s", file=sys.stderr, flush=True)

    with open(out_path, "w") as f:
        json.dump(
            {
                "sf": sf_src,
                "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                "loadavg_start": round(os.getloadavg()[0], 2),
                "queries": results,
            },
            f,
            indent=1,
            sort_keys=True,
        )
    top = sorted(results.items(), key=lambda kv: -kv[1]["min"])[:25]
    print("\nslowest 25:")
    for name, row in top:
        print(f"  {row['min']:8.3f}s  {name}")


if __name__ == "__main__":
    main()
