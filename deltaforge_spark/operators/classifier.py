"""Trained quality classifier — fastText-style logistic regression over
hashed n-gram features (Joulin et al. 2016, arXiv:1607.01759), the
discriminative data-filtering tool of the GPT-3 / LLaMA / CCNet corpus
pipelines: train "does this look like the curated target?" against the
raw crawl, keep documents the classifier scores above a threshold.
Complements operators/dsir.py (the generative importance-weight twin).

Model: P(target | x) = sigmoid(w · f(x) + b), where f(x) is the
bag-of-hashed-uni+bigram bucket counts of a document normalized by its
gram count (the fastText mean-of-features input), trained by K rounds
of full-batch gradient descent.

Scale shape (100 TB):
- Features are extracted ONCE into a persisted ONE-ROW-PER-DOC frame
  (doc_id, pairs array<struct<bucket,cnt>>, n, y) — one corpus scan +
  one doc-keyed counts-only shuffle; every training round reads the
  cache, never the raw corpus. (r13 optimization, guide §2.4/§1.2:
  the cache used to be (doc_id, bucket, cnt, n, y) PAIR rows, and
  every round paid a doc-keyed aggregate for the margin plus a
  doc-keyed join to attach probabilities back to the pairs — at bench
  SF each 3-stage round cost ~2.5 s on 370k pair rows. With the pairs
  IN the doc row, the margin is map-only and the gradient explode
  happens in the same task, so a round is ONE scan + one B-bounded
  shuffle: no joins, no doc-keyed exchange, ever.)
- One Spark job per round: map-only per-doc margin (the weight vector
  is compiled into the plan as a dense B-entry literal array — O(1)
  ``element_at`` lookups), gradient pairs exploded in-task, then a
  B-BOUNDED per-bucket aggregate (map-side partial agg) collected
  O(B) to the driver (B = n_buckets, the feature-hashing dimension —
  same bounded-collect class as the DSIR score table and BPE merge
  table).
- The weight update runs driver-side in exact int64 arithmetic; the
  next round compiles the B-entry weight array back into the plan.
  K rounds = K bounded jobs over the cache; no corpus-sized state
  ever leaves executors.

Determinism (oracle hash-match): weights and bias live in integer
MICRO-units. Per round, both engines compute
    p      = round(sigmoid(dot/(n·1e6) + b/1e6), 6)        (6dp grid)
    g[b]   = Σ_docs round((p − y) · cnt · 1e6 / n)         (exact int)
    w[b]  -= trunc_div(lr_num · g[b], N)                   (exact int)
with expression trees written token-identically (same associativity),
so the doubles agree bit-for-bit and every rounded quantity is an
identical integer. trunc_div truncates toward zero — Spark's DIV and
DuckDB's // semantics — implemented explicitly driver-side because
Python's // floors.

EAGER at build: training (K bounded jobs + O(B) collects) runs when the
operator is constructed. The returned frame is backed by the feature
cache, owned by the caller's ``plans.lineage.pin_scope``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.lineage import persist
from .dsir import doc_gram_buckets

_MICRO = 1000000.0


def _tdiv(num: int, den: int) -> int:
    """Integer division truncating toward zero (Spark DIV / DuckDB //);
    Python's // floors, which disagrees on negatives."""
    q = abs(num) // abs(den)
    return q if (num >= 0) == (den > 0) else -q


def _margin_prob(b_micro: int) -> Column:
    """round(sigmoid(dot/(n*1e6) + b/1e6), 6) — token-identical to the
    oracle's expression tree (same associativity, same literals)."""
    m = (
        F.col("dot").cast("double") / (F.col("n") * F.lit(_MICRO))
        + F.lit(int(b_micro)).cast("double") / F.lit(_MICRO)
    )
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-m)), 6)


def doc_quality_classifier(
    df: DataFrame,
    *,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    iters: int = 6,
    lr_num: int = 4,
    seed: str = "dsir",
    threshold: float = 0.5,
) -> DataFrame:
    """Train the hashed-feature logistic classifier on ``df`` (docs
    where ``label`` is true are the positive / target class) and score
    every document: (doc_id, n_grams, prob, keep).

    ``lr_num`` is the integer learning-rate numerator: the per-round
    update is w[b] -= trunc(lr_num * g[b] / N) with N the number of
    training documents — mean-gradient semantics, so the effective
    step is scale-free and the same constants work at any corpus size.
    Whitespace-only documents have no features and are excluded (same
    contract as the DSIR weights)."""
    feats_raw = doc_gram_buckets(
        df, text_col=text_col, id_col=id_col, n_buckets=n_buckets, seed=seed
    )
    labels = df.select(
        F.col(id_col).alias("doc_id"), label.cast("int").alias("y")
    )
    # one row per doc: the (bucket, cnt) pairs live IN the row, the
    # gram total n rides the same aggregate (collect_list order is
    # engine-dependent, which is safe: every consumer below is an
    # order-independent exact-int64 sum over the pairs). persist()
    # rather than a reliable checkpoint so lineage on executor loss
    # recomputes one scan + one shuffle.
    feat = persist(
        feats_raw.groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("bucket", "cnt")).alias("pairs"),
            F.sum("cnt").cast("long").alias("n"),
        )
        .join(labels, "doc_id")
        .select("doc_id", "pairs", "n", "y")
    )
    n_docs = feat.count()

    def dot_col(weights: dict[int, int]):
        """Exact int64 dot product sum(cnt * w[bucket]) as a map-only
        fold over the in-row pairs; the weight vector compiles into the
        plan as a dense B-entry literal array (O(1) element_at)."""
        if not weights:  # round 1: w = 0 everywhere
            return F.lit(0).cast("long")
        dense = [0] * n_buckets
        for b, w in weights.items():
            dense[b] = int(w)
        # ONE parsed expression, not F.array(*[F.lit(v) for ...]):
        # per-literal Column construction costs two py4j round-trips
        # per bucket (~13 s per round for B=4096 on the driver!);
        # parsing a single array(...) SQL string is milliseconds and
        # constant-folds to the identical literal array
        w_arr = F.expr("array(" + ",".join(f"{v}L" for v in dense) + ")")
        return F.aggregate(
            F.col("pairs"),
            F.lit(0).cast("long"),
            lambda acc, p: acc
            + p["cnt"] * F.element_at(w_arr, (p["bucket"] + F.lit(1)).cast("int")),
        )

    weights: dict[int, int] = {}
    b_micro = 0
    for _ in range(iters):
        doc_p = feat.select(
            "pairs",
            "n",
            "y",
            dot_col(weights).alias("dot"),
        ).select("pairs", "n", "y", _margin_prob(b_micro).alias("p"))
        # gradient pairs explode in the SAME task as the margin (no
        # join); bias rides the same B-bounded aggregate as bucket -1
        # (buckets are md5 % B, never negative)
        contrib = doc_p.select(
            "p", "y", "n", F.explode("pairs").alias("pr")
        ).select(
            F.col("pr.bucket").alias("bucket"),
            F.round(
                (F.col("p") - F.col("y")) * F.col("pr.cnt") * F.lit(_MICRO)
                / F.col("n"),
                0,
            )
            .cast("long")
            .alias("gc"),
        )
        bias = doc_p.select(
            F.lit(-1).cast("long").alias("bucket"),
            F.round((F.col("p") - F.col("y")) * F.lit(_MICRO), 0)
            .cast("long")
            .alias("gc"),
        )
        grad_rows = (
            contrib.unionByName(bias)
            .groupBy("bucket")
            .agg(F.sum("gc").cast("long").alias("g"))
            .collect()  # <= n_buckets + 1 rows by construction
        )
        gb = 0
        for r in grad_rows:
            if r["bucket"] == -1:
                gb = r["g"]
            else:
                weights[r["bucket"]] = weights.get(r["bucket"], 0) - _tdiv(
                    lr_num * r["g"], n_docs
                )
        b_micro -= _tdiv(lr_num * (gb or 0), n_docs)

    out = (
        feat.select(
            "doc_id",
            F.col("n").alias("n_grams"),
            dot_col(weights).alias("dot"),
            "n",
        )
        .select("doc_id", "n_grams", _margin_prob(b_micro).alias("prob"))
        .withColumn("keep", F.col("prob") >= F.lit(threshold))
    )
    return out
