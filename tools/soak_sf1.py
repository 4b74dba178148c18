"""sf1 scale soak: time the riskiest operators at sf0.1 vs sf1 (10x)
and record the scaling ratio — the measured evidence behind SCALE.md's
100-TB arguments (VERDICT r6 #1).

Usage: python tools/soak_sf1.py [sf1_dir]
Writes/updates SF1_SOAK.json ("kernels" key) and prints the table.

The ten kernels are the ones whose scale story is least trivial:
iterative graph joins (connected components, log-star, PageRank),
candidate-pair generation (embedding LSH, substring spans), stateful
streaming (the near-dup gate), layout writes (Z-order), bucketized
interval joins, and exact per-key window percentiles (the documented
small-scale twin of the sampled path). A healthy ratio for a 10x input
on fixed cores is ~10x or less (fixed costs amortize); super-linear
ratios are the scale bugs this soak exists to catch.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

KERNELS = [
    "dedup_connected_components",
    "dedup_cc_logstar",
    "dedup_embedding_lsh",
    "dedup_substring_spans",
    "web_pagerank",
    "web_communities",
    "lake_zorder_stats",
    "events_interval_join",
    "dedup_stream_gate",
    "events_percentiles",
    "events_sampled_percentiles",
    # r7/r8 operators (VERDICT r7 #4): every new kernel gets a measured
    # sf1 row, not just a reasoned scale shape
    "web_triangles",
    "web_kcore",
    "events_rollup",
    "events_pivot_types",
    "customer_value_deciles",
    "customer_value_deciles_sampled",
    "doc_source_boilerplate",
    "dataset_split_leakage_safe",
    "doc_oov_rate",
    "cdc_pgoutput_stream_decode",
    "cdc_pgoutput_two_phase",
    "dedup_lsh_recall",
    "dedup_substring_remove",
    # r10 operators
    "text_bpe_train",
    "doc_perplexity_bigram",
    # r11 operators
    "doc_perplexity_trigram",
    "text_bpe_roundtrip",
    # r12: distributed-rank NTILE (no global window since r12 — soak
    # verifies the swap's ratio holds at 10x)
    "doc_perplexity_bins",
    # r12: interpolated Kneser-Ney LM + 4-gram stupid backoff
    "doc_perplexity_kn",
    "doc_perplexity_quadgram",
    # r13: order-5 modified Kneser-Ney, DSIR importance resampling,
    # Broder containment pairs
    "doc_perplexity_kn5",
    "doc_dsir_weights",
    "doc_dsir_select",
    "doc_quality_classifier",
    "similarity_hybrid_rrf",
    "dedup_containment",
    "dedup_containment_lsh",
]


def _lsh_escape(spark, sf_dir):
    """The documented hot-bucket escape hatch (VERDICT r7 #3):
    post_join verify WITHOUT broadcast_vectors — id-partitioned verify
    joins, the billion-vector configuration. Measured beside the
    default in_join path so the escape hatch's cost is a number, not a
    docstring claim."""
    from deltaforge_spark.operators.dedup import embedding_neardup_lsh
    from deltaforge_spark.sources.snapshot import read_table

    # read_table, NOT a bare parquet read: the one-file sf1 parquet
    # otherwise scans as a single partition and the whole kernel runs
    # on one core — measured 4x+ slower, a layout artifact not a plan
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return embedding_neardup_lsh(emb, verify="post_join", broadcast_vectors=False)


def _lsh_lowdup(spark, sf_dir):
    """LOW-DUP fixture (VERDICT r12 #3): gen_sf makes every sf1
    replica a near-dup, so the plain dedup_embedding_lsh soak ratio is
    OUTPUT-dominated (27.7x at sf1) and can't detect a plan
    regression. This variant deterministically sign-flips each
    embedding per (vec_id, dim) — norm-preserving, but decorrelates
    every pair, so output pairs ~ 0 and the wall clock isolates the
    candidate-generation machinery (banding, bucket census, guard,
    verify-join setup): the plan-cost regression detector the default
    row no longer is."""
    from pyspark.sql import functions as F

    from deltaforge_spark.operators.dedup import embedding_neardup_lsh
    from deltaforge_spark.sources.snapshot import read_table

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    flipped = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x, i: x
            * (F.lit(1.0) - F.lit(2.0) * (F.abs(F.hash(F.col("vec_id"), i)) % 2)),
        ).alias("embedding"),
    )
    # 0.90 verify threshold: decorrelated 64-dim cosines are ~N(0, 1/8),
    # so chance survivors (~7 sigma) are effectively impossible at any
    # SF — the default 0.40 still passes ~3-sigma tails, which GROW
    # with bucket density and would re-couple output to input size
    return embedding_neardup_lsh(flipped, threshold=0.90)


def _lsh_uncapped(spark, sf_dir):
    """max_bucket=None beside the now-default capped path (r10 flipped
    the guard on at 4096): the census + broadcast anti-join overhead on
    data with NO pathological bucket — the price of the always-on
    protection, measured as a ratio against `dedup_embedding_lsh`."""
    from deltaforge_spark.operators.dedup import embedding_neardup_lsh
    from deltaforge_spark.sources.snapshot import read_table

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return embedding_neardup_lsh(emb, max_bucket=None)


def _pgoutput_stream_decode_staged(spark, sf_dir, *, collect_max: int):
    """DECODE-ONLY v2 soak row (VERDICT r8 #2 / r9 #3): the synthetic
    wire stream is staged to tmpfs parquet once per sf_dir (producing
    bytes is not decode capability — the bench's staging discipline),
    so with min-of-2 the recorded best is a pure
    scan → parse → stitch → stamp pass. ``collect_max`` pins which
    block-attribution branch runs: the default broadcast-bisect fast
    path, or 0 = the fully distributed rank-paired archive path — each
    gets its own explicitly-pinned row (the auto-pick threshold could
    otherwise flip between sf0.1 and sf1 and silently change what the
    ratio measures)."""
    import os as _os

    from deltaforge_spark.sources.fixtures import synth_pgoutput_streamed
    from deltaforge_spark.sources.pgoutput import decode_pgoutput

    par = spark.sparkContext.defaultParallelism
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"/dev/shm/deltaforge-soak-data/pgoutput-v2-{tag}-p{par}"
    if not _os.path.isdir(path):
        synth_pgoutput_streamed(spark, sf_dir).repartition(par).write.mode(
            "overwrite"
        ).parquet(path)
    wal = spark.read.parquet(path)
    return decode_pgoutput(wal, stream_block_collect_max=collect_max)


def _pgoutput_v2_decode_fast(spark, sf_dir):
    return _pgoutput_stream_decode_staged(spark, sf_dir, collect_max=65536)


def _pgoutput_v2_decode_dist(spark, sf_dir):
    return _pgoutput_stream_decode_staged(spark, sf_dir, collect_max=0)


def _pgoutput_two_phase_decode_staged(spark, sf_dir):
    """Decode-only row for the 2PC kernel (same staging discipline)."""
    import os as _os

    from deltaforge_spark.sources.fixtures import synth_pgoutput_two_phase
    from deltaforge_spark.sources.pgoutput import decode_pgoutput

    par = spark.sparkContext.defaultParallelism
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"/dev/shm/deltaforge-soak-data/pgoutput-2pc-{tag}-p{par}"
    if not _os.path.isdir(path):
        synth_pgoutput_two_phase(spark, sf_dir).repartition(par).write.mode(
            "overwrite"
        ).parquet(path)
    return decode_pgoutput(spark.read.parquet(path))


#: pair-emitting kernels whose raw wall ratio is output-dominated on
#: the replica-heavy sf1 fixture — these also record output-pair counts
#: and a seconds-per-pair ratio (VERDICT r12 #3)
OUTPUT_NORMALIZED = {
    "dedup_embedding_lsh",
    "dedup_embedding_lsh_escape",
    "dedup_embedding_lsh_uncapped",
    # gen_sf makes every replica a near-dup of its original, so
    # pair-emitting text-dedup kernels are output-dominated at sf1 too
    "dedup_containment",
    "dedup_containment_lsh",
}

EXTRA_KERNELS = {
    "dedup_embedding_lsh_escape": _lsh_escape,
    "dedup_embedding_lsh_uncapped": _lsh_uncapped,
    "dedup_embedding_lsh_lowdup": _lsh_lowdup,
    "cdc_pgoutput_v2_decode_staged": _pgoutput_v2_decode_fast,
    "cdc_pgoutput_v2_decode_staged_dist": _pgoutput_v2_decode_dist,
    "cdc_pgoutput_two_phase_decode_staged": _pgoutput_two_phase_decode_staged,
}


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--only")]
    only: set[str] | None = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
    sf1_dir = args[0] if args else "/dev/shm/deltaforge-testdata/sf1"
    sf01_dir = "/root/testdata/sf0.1"

    import __spark_entry__ as entry
    from bench import materialize
    from deltaforge_spark.plans.lineage import pin_scope
    from deltaforge_spark.session import get_spark

    spark = get_spark("soak-sf1")
    qs = entry.queries()

    out: dict[str, dict] = {}
    todo = [(n, qs[n]) for n in KERNELS] + list(EXTRA_KERNELS.items())
    if only is not None:
        todo = [(n, fn) for n, fn in todo if n in only]
    for name, fn in todo:
        # warm pass at sf0.001 compiles codegen out of the timings
        materialize(lambda: fn(spark, "/root/testdata/sf0.001"))
        row: dict[str, float] = {}
        for label, d in (("sf0.1", sf01_dir), ("sf1", sf1_dir)):
            best = None
            for _ in range(2):  # min-of-2: shared-host stall insurance
                t0 = time.perf_counter()
                materialize(lambda: fn(spark, d))
                sec = time.perf_counter() - t0
                best = sec if best is None else min(best, sec)
            row[label] = round(best, 3)
            if name in OUTPUT_NORMALIZED:
                with pin_scope():
                    row[f"pairs_{label}"] = fn(spark, d).count()
        row["ratio"] = round(row["sf1"] / row["sf0.1"], 2)
        # output-normalized ratio (VERDICT r12 #3): gen_sf makes every
        # sf1 replica a near-dup, so the raw wall ratio on pair-emitting
        # kernels tracks OUTPUT size, not plan health; seconds-per-pair
        # scaling is the regression detector (1.0 = per-pair cost flat
        # across the 10x)
        if row.get("pairs_sf0.1") and row.get("pairs_sf1"):
            row["ratio_per_pair"] = round(
                (row["sf1"] / row["pairs_sf1"])
                / (row["sf0.1"] / row["pairs_sf0.1"]),
                3,
            )
        out[name] = row
        print(f"{name}: sf0.1={row['sf0.1']}s sf1={row['sf1']}s ratio={row['ratio']}x",
              file=sys.stderr, flush=True)
        _flush(out)  # incremental: a timeout can't erase finished rows

    _flush(out)
    print(json.dumps(out))


def _flush(out: dict) -> None:
    """Merge finished kernel rows into SF1_SOAK.json after EVERY
    kernel — a wall-clock timeout then costs only the in-flight kernel,
    not the whole run. --only subset runs update their rows and leave
    the rest of the table intact."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "SF1_SOAK.json")
    doc = {}
    if os.path.exists(path):
        with open(path) as f:
            doc = json.load(f)
    kernels = doc.get("kernels") or {}
    kernels.update(out)
    doc["kernels"] = kernels
    doc["sf1_rows"] = {"lineitem": 6_000_000, "events": 1_000_000,
                       "documents": 50_000, "embeddings": 20_000}
    doc["generator"] = "tools/gen_sf.py sf0.1 x10 (deterministic key-shift)"
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
