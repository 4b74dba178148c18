"""Interleaved paired A/B kernel measurement (the 5802f2a method,
promoted to a checked-in tool per VERDICT r10 #1).

Runs two variants of a kernel strictly interleaved (A B A B ...) on the
same staged input in one process, so host-noise epochs hit both sides
equally; reports per-pair wall times, the per-pair B/A ratio, the
median ratio, and the host loadavg around every pair. A median ratio
is trustworthy where a pair of independent runs is not — shared-tenant
stalls land on single runs, not on every interleaved pair the same way.

Usage:
    python tools/paired_ab.py pin_reliable [pairs] [sf_dir]

Experiments:
    pin_reliable / pin_reliable_bpe — an iterative pin-per-round kernel
        (connected components / BPE training) with localCheckpoint
        rounds (A) vs reliable checkpoint rounds (B).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _pin_reliable(spark, sf_dir: str, *, kernel: str = "dedup_connected_components"):
    """(make_a, make_b): an iterative pin-per-round kernel with the
    session checkpoint dir cleared (A: localCheckpoint rounds, the
    pre-r11 default) vs configured (B: reliable checkpoint rounds, the
    r11 production default). Measures what the durability default
    costs per round; run against both a compute-heavy loop (connected
    components) and a tiny-table loop (BPE training, where fixed
    per-round overhead dominates)."""
    import __spark_entry__ as entry

    sc = spark.sparkContext
    dir_saved = sc.getCheckpointDir()
    assert dir_saved is not None, "get_spark should have set a checkpoint dir"
    fn = entry.queries()[kernel]

    def set_dir(d):
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(d))

    def make(reliable: bool):
        def factory():
            set_dir(dir_saved if reliable else None)
            return fn(spark, sf_dir)

        return factory

    return make(False), make(True)


EXPERIMENTS = {
    "pin_reliable": _pin_reliable,
    "pin_reliable_bpe": lambda spark, sf_dir: _pin_reliable(
        spark, sf_dir, kernel="text_bpe_train"
    ),
}


def main() -> None:
    name = sys.argv[1] if len(sys.argv) > 1 else "pin_reliable"
    pairs = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"

    from deltaforge_spark.session import get_spark

    spark = get_spark("paired_ab")
    make_a, make_b = EXPERIMENTS[name](spark, sf_dir)

    # warm both plans (codegen + Python-worker spawn out of the timings)
    _materialize(make_a())
    _materialize(make_b())

    rows = []
    for i in range(pairs):
        load0 = [round(x, 2) for x in os.getloadavg()]
        # alternate within-pair order (ABBA): a load ramp during the
        # pair otherwise lands systematically on whichever side runs
        # second, biasing every ratio the same way
        first_a = i % 2 == 0
        t0 = time.perf_counter()
        _materialize(make_a() if first_a else make_b())
        x = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        _materialize(make_b() if first_a else make_a())
        y = round(time.perf_counter() - t0, 3)
        a, b = (x, y) if first_a else (y, x)
        ratio = round(b / a, 4)
        rows.append({"pair": i + 1, "a": a, "b": b, "ratio": ratio, "loadavg": load0})
        print(f"  pair {i + 1}: A={a}s B={b}s B/A={ratio}", file=sys.stderr, flush=True)

    ratios = [r["ratio"] for r in rows]
    out = {
        "experiment": name,
        "sf_dir": sf_dir,
        "pairs": rows,
        "median_ratio": round(statistics.median(ratios), 4),
        "min_a": min(r["a"] for r in rows),
        "min_b": min(r["b"] for r in rows),
        "loadavg_final": [round(x, 2) for x in os.getloadavg()],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
