"""_BPE_MERGE_CHUNK knee audit (VERDICT r12 #5): 256 was asserted, not
measured. This script LEARNS a real 8k-merge table (incremental
pair-statistics BPE trainer, subword-nmt's algorithm: heap with lazy
invalidation + per-word index, deterministic (count, pair) tie-break)
over a synthetic corpus with genuine character diversity (the sf
documents tables have only 31 word types — nothing to learn 8k merges
from), then times bpe_apply_merges end-to-end at chunk = 64 / 256 /
1024 on the same corpus. The cost axes the chunk size trades:

- small chunks  -> more pin() materializations of the vocab-sized
  word-type table (one reliable checkpoint per chunk);
- large chunks  -> deeper nested-replace() expression trees per
  projection (Catalyst analysis + codegen grow superlinearly; the
  unchunked 32k case never finishes analysis — test_lm.py's
  bounded-depth test).

Usage: python tools/prof_bpe_chunk.py [n_merges] [chunks...]
Prints one JSON line per chunk size; paste the table into SCALE.md.
"""

from __future__ import annotations

import heapq
import json
import random
import sys
import time
from collections import defaultdict

sys.path.insert(0, "/root/repo")


def synth_corpus(n_types: int = 50_000, seed: int = 13) -> list[tuple[str, int]]:
    """(word, freq) types with zipf-ish letter and length distributions
    — enough pair diversity to support 8k+ genuine merges."""
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    weights = [1.0 / (i + 1) for i in range(26)]  # zipf letters
    out = {}
    while len(out) < n_types:
        n = rng.choice((3, 4, 5, 6, 7, 8, 9, 10, 12))
        w = "".join(rng.choices(letters, weights=weights, k=n))
        if w not in out:
            out[w] = rng.randint(1, 500)
    return sorted(out.items())


def train_bpe(vocab: list[tuple[str, int]], n_merges: int) -> list[tuple[str, str]]:
    """Incremental BPE: maintain pair->count and pair->word index,
    update only the words containing the merged pair each round."""
    words = [tuple(w) + ("</w>",) for w, _ in vocab]
    freqs = [f for _, f in vocab]
    stats: dict = defaultdict(int)
    index: dict = defaultdict(set)
    for i, word in enumerate(words):
        for pair in zip(word, word[1:]):
            stats[pair] += freqs[i]
            index[pair].add(i)
    heap = [(-c, p) for p, c in stats.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        negc, pair = heapq.heappop(heap)
        if stats.get(pair, 0) != -negc or -negc <= 0:
            if stats.get(pair, 0) > 0:
                heapq.heappush(heap, (-stats[pair], pair))
            continue
        merges.append(pair)
        a, b = pair
        new_sym = a + b
        touched: dict = defaultdict(int)
        for i in list(index[pair]):
            word, f = words[i], freqs[i]
            out, j = [], 0
            for p in zip(word, word[1:]):
                touched[p] -= f
            while j < len(word):
                if j + 1 < len(word) and word[j] == a and word[j + 1] == b:
                    out.append(new_sym)
                    j += 2
                else:
                    out.append(word[j])
                    j += 1
            words[i] = tuple(out)
            for p in zip(words[i], words[i][1:]):
                touched[p] += f
            for p in set(zip(word, word[1:])) - set(zip(words[i], words[i][1:])):
                index[p].discard(i)
            for p in zip(words[i], words[i][1:]):
                index[p].add(i)
        for p, delta in touched.items():
            if delta:
                stats[p] += delta
                if stats[p] > 0:
                    heapq.heappush(heap, (-stats[p], p))
        stats[pair] = 0
    return merges


def main() -> None:
    n_merges = int(sys.argv[1]) if len(sys.argv) > 1 else 8192
    chunks = [int(c) for c in sys.argv[2:]] or [64, 256, 1024]

    from pyspark.sql import functions as F  # noqa: F401

    from deltaforge_spark.operators.textanalysis import bpe_apply_merges
    from deltaforge_spark.plans.lineage import pin_scope
    from deltaforge_spark.session import get_spark

    vocab = synth_corpus()
    t0 = time.perf_counter()
    merges = train_bpe(vocab, n_merges)
    print(f"trained {len(merges)} merges in {time.perf_counter() - t0:.1f}s "
          f"over {len(vocab)} word types", file=sys.stderr, flush=True)

    spark = get_spark("prof-bpe-chunk")
    # documents: each word repeated ~freq/50 times, sharded into docs
    words_df = spark.createDataFrame(vocab, "w STRING, f INT")
    docs = (
        words_df.withColumn("reps", (F.col("f") / 50 + 1).cast("int"))
        .withColumn("_r", F.explode(F.sequence(F.lit(1), F.col("reps"))))
        .withColumn("doc_id", F.abs(F.hash("w", "_r")) % 20_000)
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.collect_list("w")).alias("text"))
    ).cache()
    docs.count()
    merges_df = spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "merge_rank INT, left_sym STRING, right_sym STRING",
    )

    baseline = None
    for chunk in chunks:
        best = None
        for _ in range(2):  # min-of-2: shared-host stall insurance
            t0 = time.perf_counter()
            with pin_scope():
                n = bpe_apply_merges(docs, merges_df, chunk=chunk).count()
                sec = time.perf_counter() - t0
            best = sec if best is None else min(best, sec)
        n_chunks = (len(merges) + chunk - 1) // chunk
        row = {"chunk": chunk, "n_merges": len(merges), "n_chunks": n_chunks,
               "docs": n, "best_sec": round(best, 2)}
        if baseline is None:
            baseline = best
        row["vs_first"] = round(best / baseline, 2)
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main()
