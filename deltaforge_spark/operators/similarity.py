"""Similarity search over embedding columns (``array<float>``).

Two paths, as a 100-TB design requires:

- **brute-force top-k** (the exactness baseline): broadcast the query
  set, compute cosine via ``zip_with``/``aggregate`` fold (JVM-side,
  codegen — no Python), rank with a window. Cost is |corpus| × |queries|
  multiplies with NO shuffle of the corpus (queries broadcast); correct
  choice when the query set is small.
- **LSH-bucketed ANN** (the scale path): deterministic random-hyperplane
  signatures (sign of dot(v, plane_j)); corpus and queries shuffle only
  on bucket keys, candidates re-ranked exactly within buckets.
  Hyperplane components are derived from md5 hashes of (plane, dim) so
  the whole pipeline is reproducible run-to-run and engine-to-engine.

Float math notes: embeddings are float32; both Spark and DuckDB fold
sums left-to-right in array order after an exact float→double widening,
so dot products are bit-identical across engines — results are rounded
to 6dp anyway for hash-stability.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — pandas_udf type hints resolve via module globals
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.lineage import persist


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 5,
) -> DataFrame:
    """Exact top-k by cosine: broadcast-join the (small) query set
    against the corpus; deterministic tiebreak on corpus id."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    c = corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("_cvec"))
    scored = c.join(F.broadcast(q), F.col("match_id") != F.col("query_id")).select(
        "query_id",
        "match_id",
        F.round(cosine(F.col("_qvec"), F.col("_cvec")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "cosine_sim", "rank")
    )


# ------------------------------------------------------- LSH-bucketed ANN


def _plane_vector(plane: int, dims: int) -> list[float]:
    """Deterministic ±1 hyperplane: component i is the parity of the
    first byte of md5("p{plane}:d{i}") — identical to what a SQL engine
    computes with md5()/conv(), so signatures are engine-reproducible
    without RNG state."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"p{plane}:d{i}".encode()).hexdigest()[:2], 16) % 2 == 0 else -1.0
        for i in range(dims)
    ]


def _plane_sql_literal(plane: list[float]) -> str:
    return "array(" + ",".join(f"{x:.1f}D" for x in plane) + ")"


def hyperplane_signature_sql(
    vec_sql: str, *, num_planes: int, dims: int, seed: int = 0, scale: int | None = None
) -> str:
    """SQL-string form of the bit-signature (see below). One parsed
    expression instead of thousands of py4j Column-builder round trips:
    constructing the 32-plane multi-table signature out of ``F.lit``
    lists and Python lambdas measured ~6s of driver time per query
    BUILD (64 literal conversions x planes x tables, each a py4j call);
    the parsed string is one call and yields the identical tree.

    ``scale`` switches to the quantized-int dot (``floor(x*scale+0.5)``
    components): every sum is then exact in float64 regardless of
    summation order, which is what lets the numpy batch generator
    (hyperplane_signatures_batch) and any SQL engine agree bit-for-bit.
    """
    x = "CAST(x AS DOUBLE)"
    if scale is not None:
        x = f"floor(CAST(x AS DOUBLE) * {float(scale)}D + 0.5D)"
    bits = []
    for j in range(num_planes):
        plane = _plane_sql_literal(_plane_vector(seed + j, dims))
        d = (
            f"aggregate(zip_with({vec_sql}, {plane}, (x, y) -> {x} * y), "
            f"0.0D, (acc, x) -> acc + x)"
        )
        bits.append(f"(CASE WHEN {d} > 0.0D THEN {1 << j}L ELSE 0L END)")
    return "(" + " + ".join(bits) + ")"


def hyperplane_signature(
    vec: Column, *, num_planes: int, dims: int, seed: int = 0, scale: int | None = None
) -> Column:
    """Bit-signature: bit_j = 1 if dot(vec, plane_j) > 0. ``seed``
    offsets the plane family so multi-table LSH gets independent hash
    tables from the same deterministic generator.

    Plane components are baked in as array *literals* and each dot
    product is a single ``zip_with``+``aggregate`` expression — constant
    plan size per plane. (Unrolling dims into per-element expressions
    instead creates num_planes x dims tree nodes, which stalls Catalyst
    already at ~2k terms.) Accepts only a named column (the SQL-string
    path needs a stable reference)."""
    import re

    vec_sql = vec._jc.toString() if hasattr(vec, "_jc") else str(vec)
    if not re.fullmatch(r"[A-Za-z0-9_.`]+", vec_sql):
        raise ValueError(f"hyperplane_signature needs a plain column reference, got {vec_sql!r}")
    return F.expr(
        hyperplane_signature_sql(
            vec_sql, num_planes=num_planes, dims=dims, seed=seed, scale=scale
        )
    )


QSCALE = 1 << 20  # quantization scale for exact cross-engine signatures


def plane_matrix(seed: int, num_planes: int, dims: int):
    """±1 plane family as an ndarray (num_planes, dims) — same
    generator as _plane_vector, so every implementation (numpy batch,
    column algebra, oracle SQL) draws identical planes."""
    import numpy as np

    return np.array([_plane_vector(seed + j, dims) for j in range(num_planes)])


def hyperplane_signatures_batch(
    df: DataFrame,
    *,
    vec_col: str,
    id_col: str,
    num_planes: int,
    dims: int,
    num_tables: int,
    seed_stride: int = 7919,
    scale: int = QSCALE,
    carry: list[str] | None = None,
) -> DataFrame:
    """All tables' bit-signatures in ONE Arrow-batched numpy pass:
    ``(id, carry..., table, sig)``.

    The whole plane family is one ``(n, dims) @ (dims, tables*planes)``
    matmul per Arrow batch — map-only, no shuffle, BLAS-backed; the
    Python boundary is the same deliberate one as multimodal decode.
    Measured honestly against the interpreted column-algebra twin at
    100k×64-dim/8×4 planes: the twin WINS (0.37s vs 0.85s — per-row
    flops are tiny there and Arrow vector serialization dominates), so
    this is NOT the default at bench dims; it is the right shape when
    per-row work grows (wide embeddings ≥~512 dims, large plane
    families) and the flops-to-transfer ratio flips. SCALE.md records
    the crossover reasoning.

    Exactness across engines: components are quantized to integers
    first — ``floor(x * scale + 0.5)`` — so every dot product is a sum
    of exact integer-valued float64s (|sum| ≪ 2^53): numpy's pairwise
    summation, Spark's sequential fold, and DuckDB's list_dot_product
    then agree BIT-FOR-BIT, which keeps the LSH buckets (and therefore
    the declared query's rows) oracle-reproducible. Differential test:
    tests/test_dedup_similarity.py signature-twin case.
    """
    import numpy as np
    import pandas as pd

    planes = np.vstack(
        [plane_matrix(t * seed_stride, num_planes, dims) for t in range(num_tables)]
    )  # (tables*planes, dims)
    weights = (1 << np.arange(num_planes)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def _sigs(vs: pd.Series) -> pd.Series:
        M = np.vstack(vs.to_numpy()).astype(np.float64)
        Q = np.floor(M * scale + 0.5)
        B = (Q @ planes.T) > 0.0  # (n, tables*planes), exact
        S = B.reshape(len(M), num_tables, num_planes).astype(np.int64) @ weights
        return pd.Series(list(S))

    carry = carry or []
    keyed = df.select(
        F.col(id_col).alias("_id"),
        *[F.col(c) for c in carry],
        _sigs(F.col(vec_col)).alias("_sigs"),
    )
    return keyed.select(
        "_id", *carry, F.posexplode("_sigs").alias("table", "sig")
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    *,
    vec_col: str,
    id_col: str,
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroid cells by
    cosine. Centroids are broadcast — assignment is a map-only pass over
    the corpus (|corpus| x n_cells multiplies, no shuffle), which is the
    property that makes IVF the scale path: the expensive all-pairs
    product is replaced by per-cell candidate joins."""
    c = centroids.select(F.col("cell_id"), F.col("_centroid"))
    scored = df.join(F.broadcast(c)).withColumn(
        "_cell_score", cosine(F.col(vec_col), F.col("_centroid"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("_cell_score").desc(), F.col("cell_id").asc()
    )
    return (
        scored.withColumn("_cell_rank", F.row_number().over(w))
        .filter(F.col("_cell_rank") <= nprobe)
        .drop("_centroid", "_cell_score", "_cell_rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-Flat approximate nearest neighbours.

    Inverted-file index: partition the corpus into ``n_cells`` Voronoi
    cells around centroid vectors; a query only scans the ``nprobe``
    cells nearest to it. Centroids here are the ``n_cells`` lowest-id
    corpus vectors — deterministic and engine-reproducible (the DuckDB
    oracle recomputes the identical index); production would plug
    k-means centroids into the same ``ivf_assign`` without changing the
    dataflow.

    Scale shape (100 TB): centroid table is tiny → broadcast; corpus is
    scanned once for assignment (map-only), shuffled once on ``cell_id``
    for the candidate join; per-query work drops from |corpus| to
    ~|corpus| * nprobe / n_cells. Recall tunes with nprobe.
    """
    cents = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_cells)
        .select(F.col(id_col).alias("cell_id"), F.col(vec_col).alias("_centroid"))
    )
    c = ivf_assign(
        corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("_cvec")),
        cents, vec_col="_cvec", id_col="match_id", nprobe=1,
    )
    q = ivf_assign(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")),
        cents, vec_col="_qvec", id_col="query_id", nprobe=nprobe,
    )
    scored = c.join(F.broadcast(q), "cell_id").filter(
        F.col("match_id") != F.col("query_id")
    ).select(
        "query_id",
        "match_id",
        F.round(cosine(F.col("_qvec"), F.col("_cvec")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "cosine_sim", "rank")
    )


def quantize_embeddings(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the storage
    layout an ANN serving tier keeps its vectors in (4x smaller than
    float32, SIMD-friendly dot products downstream).

    Per vector: ``scale = max(|x_i|)``, ``q_i = floor(x_i * 127 / scale
    + 0.5)`` clamped to [-127, 127]; all-zero vectors quantize to zeros
    with scale 0. Every step is a single IEEE double op or an exact
    integer op and max() is order-independent, so the DuckDB oracle
    reproduces the quantized vectors bit-for-bit (no float-fold ordering
    hazard). ``max_abs_err`` reports the per-vector reconstruction error
    bound (max over dims), rounded to 6dp.

    Map-only projection: zero shuffle at any scale.
    """
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    q = F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127),
                F.floor(x.cast("double") * F.lit(127.0) / F.col("_scale") + F.lit(0.5)).cast("int"),
            ),
        ),
    )
    dequant_err = F.array_max(
        F.zip_with(
            v,
            F.col("_qvec"),
            lambda x, qi: F.abs(x.cast("double") - qi.cast("double") * F.col("_scale") / F.lit(127.0)),
        )
    )
    out = (
        df.select(F.col(id_col).alias("vec_id"), v.alias(vec_col), scale.alias("_scale"))
        .withColumn(
            "_qvec",
            F.when(F.col("_scale") > 0, q).otherwise(
                F.transform(v, lambda x: F.lit(0).cast("int"))
            ),
        )
        .withColumn(
            "_err", F.when(F.col("_scale") > 0, dequant_err).otherwise(F.lit(0.0))
        )
    )
    return out.select(
        "vec_id",
        F.round(F.col("_scale"), 9).alias("scale"),
        F.col("_qvec").alias("qvec"),
        F.round(F.col("_err"), 6).alias("max_abs_err"),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 5,
    num_planes: int = 8,
    dims: int = 64,
) -> DataFrame:
    """ANN: bucket by hyperplane signature, exact re-rank inside buckets.

    At scale this replaces the |corpus|×|queries| product with a join on
    the signature key — the corpus shuffles once on a single long.
    Recall is tunable via num_planes (fewer planes → bigger buckets →
    higher recall, more compute); multi-probe = union of per-plane
    bit-flip signatures (not needed at test scale).
    """
    c = corpus.select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("_cvec"),
        hyperplane_signature(F.col(vec_col), num_planes=num_planes, dims=dims).alias("_sig"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        hyperplane_signature(F.col(vec_col), num_planes=num_planes, dims=dims).alias("_sig"),
    )
    scored = c.join(F.broadcast(q), "_sig").filter(
        F.col("match_id") != F.col("query_id")
    ).select(
        "query_id",
        "match_id",
        F.round(cosine(F.col("_qvec"), F.col("_cvec")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "cosine_sim", "rank")
    )


def rrf_fuse(
    dense: DataFrame,
    sparse: DataFrame,
    *,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k_rrf: int = 60,
    k: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked retrieval lists (Cormack,
    Clarke & Buettcher, SIGIR 2009) — the standard hybrid-search merge
    of an embedding-ANN list with a BM25 lexical list:

        rrf(d) = 1/(k_rrf + rank_dense(d)) + 1/(k_rrf + rank_sparse(d))

    with a missing list contributing 0. Rank-based (not score-based)
    fusion needs no cross-list score calibration, which is why it wins
    in production hybrid retrieval.

    Output: (doc_id, rank_dense, rank_sparse, rrf_score, rank) — the
    top-``k`` fused docs; absent-side ranks stay NULL.

    Scale shape: both inputs are ALREADY top-k lists (bounded by their
    retrieval k), so the full-outer merge and final ranking run on at
    most |dense|+|sparse| rows — the fuse costs nothing at any corpus
    size; all the heavy lifting stays in the upstream retrieval
    operators. The final row_number window follows the bm25_search
    pattern: rank assignment ABOVE an orderBy().limit(k)
    (TakeOrderedAndProject), so the window input is k rows by
    construction. Fixed two-term sum — no float-order ambiguity."""
    d = dense.select(
        F.col(id_col).alias("doc_id"), F.col(rank_col).alias("rank_dense")
    )
    s = sparse.select(
        F.col(id_col).alias("doc_id"), F.col(rank_col).alias("rank_sparse")
    )
    fused = d.join(s, "doc_id", "full").select(
        "doc_id",
        "rank_dense",
        "rank_sparse",
        F.round(
            F.coalesce(
                F.lit(1.0) / (F.lit(float(k_rrf)) + F.col("rank_dense")),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(float(k_rrf)) + F.col("rank_sparse")),
                F.lit(0.0),
            ),
            6,
        ).alias("rrf_score"),
    )
    top = fused.orderBy(F.desc("rrf_score"), "doc_id").limit(k)
    w = Window.orderBy(F.desc("rrf_score"), "doc_id")
    return top.withColumn("rank", F.row_number().over(w))


def semantic_dedup(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    threshold: float = 0.40,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, compare pairs ONLY
    within a cluster, and drop every vector that has a lower-id
    in-cluster neighbour at/above the cosine threshold (the
    deterministic stand-in for "keep one exemplar per semantic
    cluster"; the paper keeps the centroid-closest — same dataflow,
    different keeper rule).

    Scale shape (100 TB): assignment is the broadcast map-only
    ``ivf_assign`` pass; the quadratic pairwise stays bounded at
    (|corpus|/n_cells)² per cell — n_cells grows with the corpus so
    cells stay small (SemDeDup's own design), and the pair join is an
    equi-join on cell_id, never a cartesian. Centroids here are the
    lowest-id vectors (engine-reproducible, oracle recomputes the same
    index); production plugs k-means centroids in unchanged.

    Output: one row per input vector — (id, cell_id, is_dup, dup_of).
    """
    base = corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("_v"))
    cents = (
        base.orderBy(F.col("__id").asc())
        .limit(n_cells)
        .select(F.col("__id").alias("cell_id"), F.col("_v").alias("_centroid"))
    )
    # the assignment pass is read THREE times (both sides of the pair
    # join + the final label join); persist it so the broadcast-assign
    # subtree (centroid TakeOrdered + BroadcastNestedLoopJoin + window
    # argmin) runs once per call instead of three times
    a = persist(ivf_assign(base, cents, vec_col="_v", id_col="__id", nprobe=1))
    right = a.select(
        F.col("__id").alias("_nid"), F.col("_v").alias("_nv"), "cell_id"
    )
    pairs = (
        a.join(right, "cell_id")
        .filter(F.col("_nid") < F.col("__id"))
        .withColumn("_cos", F.round(cosine(F.col("_v"), F.col("_nv")), 6))
        .filter(F.col("_cos") >= F.lit(threshold))
    )
    dups = pairs.groupBy("__id").agg(F.min("_nid").alias("dup_of"))
    return a.join(dups, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.col("cell_id"),
        F.col("dup_of").isNotNull().alias("is_dup"),
        F.col("dup_of"),
    )
