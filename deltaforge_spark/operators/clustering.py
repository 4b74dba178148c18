"""Distributed k-means (Lloyd's) over embedding columns — the centroid
learner the IVF index plugs in (`similarity.ivf_topk` ships with
lowest-id seed centroids and documents that production swaps in k-means
without changing the dataflow), and the clustering primitive behind
cluster-based corpus curation (SemDeDup-style: cluster, then dedup /
budget within clusters).

Engine-reproducible by construction: all distance arithmetic runs in
EXACT integer micro-units. Embeddings are quantized once with
``floor(x * 1e6 + 0.5)`` (single IEEE multiply + exact floor — the
`quantize_embeddings` determinism recipe), distances are integer
sums of squares (64 dims x (2e6)^2 = 2.6e14 max — comfortably inside
int64), and centroid updates take exact integer dimension-sums divided
once in double and re-floored. No float fold order anywhere, so the
DuckDB oracle replays the identical iterations bit-for-bit.

Scale shape (100 TB corpus, small k):
- assignment is MAP-ONLY: centroids are collected to the driver
  (k x d ints — control-plane size) and compiled into the plan as
  literal arrays; each row computes its k distances with
  ``aggregate(zip_with(...))`` JVM expressions and takes
  ``array_min`` over (dist, cell) structs. Zero join, zero shuffle.
- the update shuffles (cluster, dim) partial sums — counts-only,
  k x d groups regardless of corpus size, with map-side combine.
- iterations are driver-coordinated (the standard Lloyd's loop; MLlib
  does the same): n_iter small, each pass one scan + one tiny agg.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.lineage import persist

MICRO = 1_000_000


def quantize_micro(col: Column) -> Column:
    """array<float> -> array<long> exact micro-units:
    floor(x * 1e6 + 0.5) — one IEEE multiply then exact floor, the
    cross-engine-deterministic rounding used across this repo."""
    return F.transform(
        col,
        lambda x: F.floor(x.cast("double") * F.lit(float(MICRO)) + F.lit(0.5)).cast(
            "long"
        ),
    )


def _sqdist_sql(qvec_col: str, centroid: list[int]) -> str:
    """Exact integer squared L2 distance from a quantized vector column
    to one driver-side centroid, as a SQL fragment. One parsed string
    instead of ``F.array(*[F.lit(v) ...])``: the Column-by-Column form
    costs two py4j round-trips per dimension — k x d x 2 driver calls
    per assignment pass (the classifier hit the same trap; one parsed
    expression folds to the identical literal in microseconds)."""
    lit_vec = "array(" + ",".join(f"{int(v)}L" for v in centroid) + ")"
    return (
        f"aggregate(zip_with({qvec_col}, {lit_vec}, (a, b) -> (a - b) * (a - b)), "
        f"0L, (acc, x) -> acc + x)"
    )


def assign_clusters(
    df: DataFrame, centroids: list[list[int]], *, qvec_col: str = "_qvec"
) -> DataFrame:
    """Map-only nearest-centroid assignment: adds ``cluster`` (int) and
    ``sq_dist`` (exact long, micro-unit^2). Ties break on lowest
    cluster id via the (dist, cluster) struct ordering."""
    structs = ", ".join(
        f"named_struct('d', {_sqdist_sql(qvec_col, c)}, 'c', {i})"
        for i, c in enumerate(centroids)
    )
    best = F.expr(f"array_min(array({structs}))")
    return df.withColumn("_best", best).select(
        "*",
        F.col("_best.c").alias("cluster"),
        F.col("_best.d").alias("sq_dist"),
    ).drop("_best")


def kmeans_fit_assign(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_iter: int = 2,
) -> DataFrame:
    """Lloyd's iterations with deterministic seeding: initial centroids
    are the quantized vectors of the k lowest ids (the `ivf_topk`
    seeding convention); each iteration assigns map-only and recomputes
    centroid means exactly (integer dim-sums, one double division,
    floor(mean + 0.5) back to micro-units). A cluster that loses all
    members keeps its previous centroid. Returns the final assignment:
    (vec_id, cluster, sq_dist).
    """
    # the quantized corpus is re-read by the seed collect, by every
    # Lloyd round's partial-sum job, and by the final assignment —
    # persist it once (standard iterative-kmeans discipline; the cache
    # spills to disk gracefully at scale)
    q = persist(
        df.select(F.col(id_col).alias("vec_id"), quantize_micro(F.col(vec_col)).alias("_qvec"))
    )
    seed_rows = (
        q.orderBy(F.col("vec_id").asc()).limit(k).select("vec_id", "_qvec").collect()
    )
    centroids: list[list[int]] = [list(r["_qvec"]) for r in seed_rows]
    k = len(centroids)  # corpora smaller than k seed what they have

    for _ in range(n_iter):
        assigned = assign_clusters(q, centroids)
        sums = (
            assigned.select(
                "cluster", F.posexplode(F.col("_qvec")).alias("dim", "qv")
            )
            .groupBy("cluster", "dim")
            .agg(F.sum("qv").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new_c: dict[int, dict[int, int]] = {}
        for r in sums:
            # exact int sum -> one IEEE division -> floor(x + 0.5):
            # bit-identical in any engine replaying the same iteration
            import math

            new_c.setdefault(r["cluster"], {})[r["dim"]] = int(
                math.floor(r["s"] / r["n"] + 0.5)
            )
        centroids = [
            [new_c[i][d] for d in range(len(centroids[i]))] if i in new_c else centroids[i]
            for i in range(k)
        ]

    return assign_clusters(q, centroids).select("vec_id", "cluster", "sq_dist")


def kmeans_cluster_profile(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_iter: int = 2,
) -> DataFrame:
    """Cluster-level curation report over the final assignment:
    (cluster, n_members, min_id, mean_sq_dist) — the shape a
    cluster-budget sampler consumes. mean_sq_dist is the exact integer
    sum divided once in double, rounded to 6dp."""
    return _profile(kmeans_fit_assign(df, vec_col=vec_col, id_col=id_col, k=k, n_iter=n_iter))


def _profile(a: DataFrame) -> DataFrame:
    return a.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members"),
        F.min("vec_id").alias("min_id"),
        F.round(
            F.sum("sq_dist").cast("double") / F.count("*").cast("double"), 6
        ).alias("mean_sq_dist"),
    )
