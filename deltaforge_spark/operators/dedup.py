"""Deduplication operators for large-scale training-data pipelines.

Five variants, all shuffle-conscious and all deterministic (hash
functions are md5-prefix based so a SQL oracle reproduces them exactly):

- **exact**: md5-of-content groupBy; at 100 TB this is one hash-partition
  shuffle on a 16-byte key instead of full-row comparisons.
- **minhash**: word-shingle MinHash signatures + banded LSH join. The
  signature computation is one explode + one groupBy (map-side partial
  agg applies); the LSH join only shuffles (band, bucket-hash) pairs —
  candidate pairs are verified with exact Jaccard to drop false
  positives. This is the standard scale path: no all-pairs product.
- **simhash**: near-dup fingerprint via bit-vote aggregation — one
  explode + one groupBy, fingerprints compared by Hamming distance.
- **ngram-jaccard**: exact Jaccard over distinct word n-grams via a
  shingle self-join (inverted-index style: pairs only materialize for
  docs sharing a shingle — still the exact result, never O(n²)).
- **embedding-cosine**: near-dup by cosine over an embedding column —
  see ``similarity.py`` (shared kernel).

Spark-first notes: everything below is built-in functions (split /
transform / explode / groupBy) — zero Python UDFs, whole-stage codegen
end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.lineage import pin, release_pinned

# ------------------------------------------------------------------ exact


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup groups: one row per distinct content hash with the
    surviving (minimum) id and the duplicate count.

    Scale: shuffles only (hash, id) — the md5 is computed map-side and
    the groupBy does partial aggregation before the exchange.
    """
    # Single column: NULL coalesced to '' (matches the md5(coalesce(text,
    # '')) oracle). Multi-column: to_json(struct(...)) makes column
    # boundaries unambiguous and encodes NULL distinctly from '' --
    # DuckDB reproduces it as md5(to_json(struct_pack(...))).
    if len(cols) == 1:
        content = F.coalesce(F.col(cols[0]).cast("string"), F.lit(""))
    else:
        content = F.to_json(F.struct(*[F.col(c) for c in cols]))
    return (
        df.select(F.md5(content).alias("content_hash"), F.col(id_col).cast("long").alias("_id"))
        .groupBy("content_hash")
        .agg(F.min("_id").alias("keep_id"), F.count("*").alias("n_dupes"))
    )


# ---------------------------------------------------------------- minhash


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams of ``text`` (whitespace tokens). Documents
    with fewer than n tokens yield an empty array (guard needed because
    Spark's ``sequence(1, 0)`` counts *down* instead of being empty)."""
    toks = F.split(text, " ")
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j) for j in range(n)]
    )
    grams = F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)), gram)
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))
    )


def _hash_shingle(shingle: Column, seed: int) -> Column:
    """Deterministic 48-bit hash both Spark and DuckDB can compute:
    ``conv(substr(md5('s<seed>:' || shingle), 1, 12), 16, 10)``."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"s{seed}:"), shingle)), 1, 12), 16, 10
    ).cast("long")


_MOD48 = 1 << 48


def minhash_signatures(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    shingle_n: int = 3,
    with_size: bool = False,
) -> DataFrame:
    """Per-doc MinHash signature: min over shingles of k independent
    hash functions, via one explode + one groupBy with k ``min`` aggs.

    Why explode+groupBy and not per-row ``array_min(transform(...))``:
    higher-order-function lambdas are evaluated INTERPRETED (outside
    whole-stage codegen), and measured 5x slower than this form — the
    hashing here runs inside codegen after the explode. The groupBy
    does map-side partial aggregation, so the exchange carries only k
    longs per doc (k*8 bytes/doc at any scale — negligible next to the
    text bytes already read). Docs with fewer than ``shingle_n`` tokens
    have no shingles and drop out (explode of an empty array emits
    nothing).

    The k hash family is Kirsch-Mitzenmacher double hashing: ONE md5
    per shingle split into two 48-bit halves (a, b), and
    ``h_j = (a + j*b) mod 2^48``. Hashing is the dominant per-shingle
    cost, so this is ~k× less digest work than k independent md5s
    (measured 2.6× end-to-end at sf0.1 for k=8), keeps the standard
    LSH guarantees, and stays bit-for-bit reproducible in DuckDB
    (same substr/arithmetic on the same md5 hex). a + j*b ≤ 2^48 +
    (k-1)*2^48 stays far below 2^63 — exact in both engines' int64.
    """
    full = F.md5(F.concat(F.lit("mh:"), F.col("_sh")))
    a = F.conv(F.substring(full, 1, 12), 16, 10).cast("long")
    b = F.conv(F.substring(full, 13, 12), 16, 10).cast("long")
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("_sh"),
    ).select("doc_id", a.alias("_a"), b.alias("_b"))
    aggs = [
        F.min((F.col("_a") + F.lit(j) * F.col("_b")) % F.lit(_MOD48)).alias(f"mh{j}")
        for j in range(num_hashes)
    ]
    if with_size:
        # |S(doc)| rides the same partial aggregation: the exploded rows
        # ARE the distinct shingles (word_shingles array_distincts), so
        # count(*) == size(word_shingles(text)) — callers needing sizes
        # (containment) skip a second corpus tokenize+shingle pass
        aggs.append(F.count(F.lit(1)).cast("int").alias("n_sh"))
    return ex.groupBy("doc_id").agg(*aggs)


def minhash_signatures_rowwise(
    df: DataFrame, *, text_col: str, id_col: str, num_hashes: int = 8, shingle_n: int = 3
) -> DataFrame:
    """Per-ROW MinHash signature: identical values to
    minhash_signatures (same double-hash family over the same
    shingles), computed as array_min over higher-order functions with
    NO aggregation. Interpreted and ~5× slower than the explode+groupBy
    form (SCALE.md) — kept for contexts where a groupBy is structurally
    unavailable: STREAMING sources (a streaming aggregation would
    demand watermarks and append-mode state the signature step doesn't
    want — streaming/dedup_stream.py) and row-preserving enrichment.
    Docs with fewer than ``shingle_n`` tokens get NULL signatures
    (no shingles to hash).

    r13 optimization (guide §1.2 step 2 — per-task work): the original
    form evaluated ``md5`` inside EVERY ``array_min(transform(...))``
    lambda — interpreted lambdas get no common-subexpression
    elimination, so each shingle was digested 2k times (a and b per
    hash function). The digest is now staged once per shingle through
    intermediate array columns (hex → (a, b) struct → k cheap
    arithmetic passes): 1 md5 per shingle instead of 16 for k=8, same
    values bit-for-bit (pinned against the groupBy form by
    test_rowwise_signatures_match_groupby_form)."""
    sh = word_shingles(F.col(text_col), shingle_n)
    # single-arg lambdas REQUIRED below: a second parameter (even a
    # bound default) makes pyspark treat it as the (element, index)
    # form and feeds the array index where j belongs
    hexes = F.transform(sh, lambda s: F.md5(F.concat(F.lit("mh:"), s)))
    ab = F.transform(
        F.col("_hex"),
        lambda x: F.struct(
            F.conv(F.substring(x, 1, 12), 16, 10).cast("long").alias("a"),
            F.conv(F.substring(x, 13, 12), 16, 10).cast("long").alias("b"),
        ),
    )

    def h(j: int):
        return lambda p: (p["a"] + F.lit(j) * p["b"]) % F.lit(_MOD48)

    cols = [
        F.array_min(F.transform(F.col("_ab"), h(j))).alias(f"mh{j}")
        for j in range(num_hashes)
    ]
    return (
        df.select(F.col(id_col).alias("doc_id"), hexes.alias("_hex"))
        .select("doc_id", ab.alias("_ab"))
        .select("doc_id", *cols)
    )


def minhash_lsh_pairs(
    sig: DataFrame, *, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """Banded LSH candidate pairs from a signature DataFrame.

    Each band's rows are concatenated and hashed into a bucket key; the
    self-join shuffles on (band, bucket) so only same-bucket docs meet.
    Returns distinct candidate pairs (doc_a < doc_b).
    """
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        members = [F.col(f"mh{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws(":", *members)).alias("bucket"))
        )
    buckets = sig.select(
        F.col("doc_id"), F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Cluster near-duplicate pairs into components and pick a canonical
    document per cluster — the step a training-data dedup pipeline runs
    after LSH candidate generation (keep one doc per duplicate cluster).

    Iterative min-label propagation: every node starts as its own
    component; each round, a node adopts the minimum label among itself
    and its neighbors. Converges in O(graph diameter) rounds — near-dup
    graphs are shallow (dup clusters are cliques-ish), so a handful of
    rounds suffice at any scale.

    Scale shape per round: one join on node id + one groupBy min — both
    shuffle on the id key and reuse the same partitioning. Each round's
    labels are LAZY-locally-checkpointed and materialized by the
    convergence probe (one job per round — the eager variant paid a
    second materialization job per round). The checkpoint — not a bare
    ``persist`` — is load-bearing as the LINEAGE barrier: a persist is
    only an execution barrier, the LOGICAL plan still embeds the
    previous round twice (neighbor_min + the label join), so plans grew
    2^rounds and every consumer paid analysis of a ~3,600-node tree
    (measured: dedup_keep_best's explain was 3,640 lines; with the
    checkpoint it plans against a constant-size LogicalRDD scan).
    Superseded rounds release their blocks immediately; the final
    round backs the result until the caller's ``pin_scope`` closes.
    Same discipline as
    ``connected_components_logstar`` and ``graph.kcore``.

    Returns (doc_id, canonical_id) for every node in the edge set;
    singletons (no edges) are their own canonical doc by definition and
    need no row.
    """
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v"))).persist()
    # seed with propagation round 1 directly (min over self + direct
    # neighbors, one groupBy) — near-dup clusters are cliques-ish, so
    # this is usually already the fixpoint and the loop's first probe
    # just confirms it, saving one full join round
    labels = sym.groupBy(F.col("u").alias("id")).agg(
        F.least(F.first("u"), F.min("v")).alias("comp")
    )
    prev_cached = None
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["u"] == labels["id"])
            .select(F.col("v").alias("id"), F.col("comp"))
            .groupBy("id")
            .agg(F.min("comp").alias("ncomp"))
        )
        new_labels = pin(
            labels.withColumnRenamed("comp", "old")
            .join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(F.col("old"), F.coalesce(F.col("ncomp"), F.col("old"))).alias("comp"),
                F.col("old"),
            ),
            eager=False,
            reliable=False,
        )
        # full count (no limit-1 short circuit): the probe doubles as the
        # checkpoint materializer, and a partial scan would leave
        # unmaterialized partitions that recompute through the history
        changed = new_labels.filter(F.col("comp") != F.col("old")).count()
        if prev_cached is not None:
            release_pinned(prev_cached)
        prev_cached = new_labels
        labels = new_labels.select("id", "comp")
        if changed == 0:
            break
    sym.unpersist()
    # the final round's checkpoint stays live — it backs the returned frame
    return labels.select(F.col("id").alias("doc_id"), F.col("comp").alias("canonical_id"))


def connected_components_logstar(
    edges: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 40,
    _rounds_out: list | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log n) rounds on ANY graph shape, vs the O(diameter)
    of plain min-label propagation (``connected_components``).

    Use this variant when components can be DEEP: line-dedup chains,
    URL redirect graphs, co-citation paths. Near-dup LSH clusters are
    cliques-ish (diameter ~2), where the plain propagator's cheaper
    rounds win — it stays the default.

    Per round, on directed edges (u, v):
    - **large-star**: each node u computes m = min(Γ(u) ∪ {u}) over its
      full neighborhood and re-points every STRICTLY LARGER neighbor at
      m: emit (v, m) for v ∈ Γ(u), v > u. Halves the depth of tall
      trees while never connecting two different components.
    - **small-star**: edges first orient larger→smaller; each node
      re-points its smaller neighbors (and itself) at the minimum:
      emit (v, m) for v ∈ N⁻(u) ∪ {u} \\ {m}. Flattens the shallow
      trees large-star leaves behind.

    Fixpoint: the edge set is a union of stars rooted at each
    component's global minimum; labels read directly off the edges.

    Scale shape per round: two groupBy/join pairs on node id (same key,
    exchange-reusable) + a distinct; edge multiplicity is bounded by
    the distinct, driver state is one (count, checksum) row per round.
    Lineage barrier: each round locally checkpoints its edge set.
    Unlike the plain propagator (whose round plan embeds the previous
    labels ONCE, so persist+probe suffices), a star round embeds the
    previous edge set ~4× (sym twice through the self-join, again
    through the groupBy) — with only a cache barrier, ANALYSIS cost
    grows 4^rounds and stalls the driver long before execution starts;
    the checkpoint truncates the logical plan itself.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )

    def star_min(nbrs: DataFrame) -> DataFrame:
        # m(u) = min(neighbors ∪ {u}), one groupBy on u
        return (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least(F.col("u"), F.col("_mn")).alias("m"))
        )

    prev = e
    prev_sig = None
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # ---- large-star over the symmetric neighborhood
        sym = prev.union(prev.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lm = star_min(sym)
        large = (
            sym.join(lm, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # ---- small-star over larger→smaller edges
        directed = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        sm = star_min(directed)
        pointed = directed.join(sm, "u").select(
            F.col("v").alias("node"), F.col("m")
        )
        selfrows = sm.select(F.col("u").alias("node"), F.col("m"))
        # plan-truncating round barrier; LAZY so the convergence
        # probe below doubles as the materializer (one job per
        # round, not two — measured ~35% off the round cost)
        small = pin(
            pointed.unionByName(selfrows)
            .filter(F.col("node") != F.col("m"))
            .select(F.col("node").alias("u"), F.col("m").alias("v"))
            .distinct(),
            eager=False,
            reliable=False,
        )
        # convergence probe: (count, order-free checksum) of the edge
        # set. bit_xor, not sum: order-free like sum but cannot
        # overflow under ANSI arithmetic (the edge set is distinct, so
        # XOR cancellation needs a hash collision, not a duplicate row)
        sig = small.agg(
            F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("u", "v")).alias("h")
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        # the probe materialized this round's checkpoint, so the
        # PREVIOUS round's blocks are superseded — release them now
        # instead of waiting for the ContextCleaner (bounded footprint:
        # one live round, same discipline as kcore)
        superseded, prev = (prev if prev is not e else None), small
        if superseded is not None:
            release_pinned(superseded)
        if sig == prev_sig:
            break
        prev_sig = sig
    if _rounds_out is not None:
        _rounds_out.append(rounds)

    # fixpoint edges are (node → component-min) stars; roots label
    # themselves. Keep every node that appeared in the input edge set.
    nodes = e.select(F.col("u").alias("doc_id")).union(
        e.select(F.col("v").alias("doc_id"))
    ).distinct()
    # groupBy-min instead of a bare projection: at the fixpoint each
    # node has exactly one outgoing edge, but if max_iter cut the loop
    # early a node may still carry several — min keeps the result a
    # function of doc_id either way
    labels = prev.groupBy(F.col("u").alias("doc_id")).agg(
        F.min("v").alias("canonical_id")
    )
    out = nodes.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("canonical_id", "doc_id").alias("canonical_id")
    )
    e.unpersist()
    # the final round's checkpoint backs the returned frame
    return out


def shingle_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via inverted-index join.

    Explode distinct shingles → self-join on shingle (and optional
    blocking column) → intersection counts → |A∪B| = |A|+|B|-|A∩B|.
    Exact result without an all-pairs product: pairs sharing zero
    shingles (jaccard 0) never materialize. Shuffles on the shingle
    hash.

    ``max_doc_freq`` is the hot-shingle mitigation at scale: a
    boilerplate gram appearing in D documents contributes D² rows to
    the pair join (quadratic skew on ONE key). Dropping shingles with
    doc-frequency > the threshold bounds every join key at
    max_doc_freq² — the standard DF-pruning of inverted indexes. The
    pruned shingles still count in |A| and |B| (sizes are taken before
    pruning), so computed jaccard values only UNDER-estimate for pairs
    whose overlap was mostly boilerplate — exactly the pairs a near-dup
    pass should not surface. Pairs sharing at least one sub-threshold
    shingle keep their exact intersection counts minus the pruned
    common grams (see test_dedup_similarity hot-shingle case).
    ``None`` (default) disables pruning — the exact-verification
    regime the DuckDB oracle mirrors.
    """
    base = df.select(
        F.col(id_col).alias("doc_id"),
        *( [F.col(block_col).alias("_blk")] if block_col else [] ),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("shingle"),
    )
    sizes = base.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    if max_doc_freq is not None:
        dfreq = F.count("*").over(Window.partitionBy(*(["shingle"] + (["_blk"] if block_col else []))))
        base = base.withColumn("_df", dfreq).filter(F.col("_df") <= max_doc_freq).drop("_df")
    join_keys = ["shingle"] + (["_blk"] if block_col else [])
    a, b = base.alias("a"), base.alias("b")
    inter = (
        a.join(b, join_keys)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )
    return out


def shingle_containment_pairs(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs via the same inverted-index join
    as :func:`shingle_jaccard_pairs` — Broder's asymmetric resemblance
    measure (Broder 1997, "On the resemblance and containment of
    documents"): C(A in B) = |S(A) ∩ S(B)| / |S(A)|.

    Jaccard misses subset relations: a short document quoted wholesale
    inside a long one has low Jaccard (the union is big) but containment
    ~1.0 — exactly the quote/boilerplate-inclusion duplicates a
    training-data pass wants to catch. Output keeps BOTH directions plus
    their max; pairs survive when max(c_a_in_b, c_b_in_a) >= threshold.

    Scale shape is identical to the Jaccard op (one shingle-keyed
    self-join, never all-pairs; optional doc-frequency pruning bounds
    hot boilerplate keys at max_doc_freq²) — containment is one extra
    column off the same intersection counts."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("shingle"),
    )
    sizes = base.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    if max_doc_freq is not None:
        dfreq = F.count("*").over(Window.partitionBy("shingle"))
        base = base.withColumn("_df", dfreq).filter(
            F.col("_df") <= max_doc_freq
        ).drop("_df")
    a, b = base.alias("a"), base.alias("b")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    c_ab = F.round(F.col("n_inter") / F.col("n_a"), 6)
    c_ba = F.round(F.col("n_inter") / F.col("n_b"), 6)
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            c_ab.alias("c_a_in_b"),
            c_ba.alias("c_b_in_a"),
            F.greatest(c_ab, c_ba).alias("containment"),
        )
        .filter(F.col("containment") >= F.lit(threshold))
    )


def containment_lsh_pairs(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH-ESTIMATED containment pairs — the 100-TB scale path for
    :func:`shingle_containment_pairs` (whose exact inverted-index join
    stays the verification twin): banded-MinHash candidates, the
    signature-agreement Jaccard estimator, and Broder's identity
    converting Jaccard + set sizes into containment:

        I = J·(|A|+|B|)/(1+J)   ⇒   C(A in B) = I/|A|   (capped at 1)

    Output: (doc_a, doc_b, jaccard_est, c_a_in_b_est, c_b_in_a_est,
    containment_est) for candidate pairs at/above ``threshold``.

    Scale shape: signatures are one explode + one groupBy (k longs per
    doc, with the distinct-shingle size riding the same aggregation —
    r13: the sizes used to be a second full tokenize+shingle pass over
    the corpus, and the estimator paid two extra joins to attach them);
    candidates shuffle on (band, bucket), never all-pairs; the
    estimator join touches only candidate pairs. Nothing is quadratic
    in the corpus — the exact op's shingle self-join (bounded only by
    doc-frequency pruning) never runs."""
    sig = minhash_signatures(
        df, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, shingle_n=shingle_n, with_size=True,
    )
    cands = minhash_lsh_pairs(sig, num_hashes=num_hashes, bands=bands)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_sh").alias("n_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(num_hashes)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("n_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(num_hashes)],
    )
    matches = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(num_hashes)
    )
    est = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            F.round(matches / F.lit(num_hashes), 6).alias("jaccard_est"),
        )
    )
    j = F.col("jaccard_est")
    c_a = F.round(
        F.least(
            j * (F.col("n_a") + F.col("n_b")) / ((F.lit(1.0) + j) * F.col("n_a")),
            F.lit(1.0),
        ),
        6,
    )
    c_b = F.round(
        F.least(
            j * (F.col("n_a") + F.col("n_b")) / ((F.lit(1.0) + j) * F.col("n_b")),
            F.lit(1.0),
        ),
        6,
    )
    return (
        est.select(
            "doc_a",
            "doc_b",
            "jaccard_est",
            c_a.alias("c_a_in_b_est"),
            c_b.alias("c_b_in_a_est"),
            F.greatest(c_a, c_b).alias("containment_est"),
        )
        .filter(F.col("containment_est") >= F.lit(threshold))
    )


# ---------------------------------------------------------------- simhash


def simhash(
    df: DataFrame, *, text_col: str, id_col: str, bits: int = 16
) -> DataFrame:
    """SimHash fingerprint: per-token 48-bit hash, per-bit ±1 votes,
    sign of the vote sum becomes the fingerprint bit.

    One explode + one groupBy with ``bits`` conditional sums — partial
    aggregation map-side, shuffle carries ``bits`` longs per doc.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).withColumn("h", _hash_shingle(F.col("tok"), 0))
    votes = [
        F.sum(
            F.when(F.expr(f"(h div {1 << i}) % 2 = 1"), F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select("doc_id", fp.cast("long").alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two long fingerprints (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


# ------------------------------------------------- embedding-cosine near-dup


def embedding_neardup_pairs(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.40,
) -> DataFrame:
    """Exact embedding near-duplicate edge list: all pairs (a < b) with
    cosine similarity >= threshold. This is the verification baseline —
    O(n²) by construction, used at audit scale and as the oracle for the
    LSH-blocked variant below.
    """
    from .similarity import cosine

    a = df.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("_va"))
    b = df.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("_vb"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def embedding_neardup_lsh(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.40,
    num_planes: int = 4,
    num_tables: int = 8,
    dims: int = 64,
    verify: str = "in_join",
    broadcast_vectors: bool = True,
    sig_impl: str = "column",
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Scale path for embedding near-dup: multi-table random-hyperplane
    LSH. A pair collides in one table's bucket with prob
    (1 - angle/pi)^num_planes; ``num_tables`` independent plane sets are
    unioned so recall is 1 - (1 - p)^L — the same band/table trade-off
    as MinHash LSH. Candidates are verified with the exact cosine (no
    false positives); the n² product never materializes. At 0.40 cosine
    with 4 planes x 8 tables expected recall is ~0.75.

    Two verify strategies (identical results, different shuffle bills):

    - ``in_join`` (default): vectors+norms ride the (table, signature)
      shuffle and the cosine computes inside the bucket join; only the
      few above-threshold survivors reach the final distinct. Shuffles
      ~num_tables x vector bytes, zero joins back — measured 2x faster
      than post_join at bench scale, and the right choice whenever
      collision-pair count is within ~an order of magnitude of the
      corpus (low-threshold regimes).
    - ``post_join``: dedup bare (a_id, b_id) candidates first (16
      bytes/pair), then join the vector table back for one cosine per
      UNIQUE pair. Shuffles vectors once (+ the pair dedup); wins when
      vectors are wide and cross-table duplicate collisions are many
      (high-threshold near-dup on fat embeddings).
      ``broadcast_vectors`` hints the verify joins when the projection
      fits the driver; at billion-vector scale pass False for
      id-partitioned joins.

    ``sig_impl`` picks the signature generator — both produce
    IDENTICAL signatures by construction (quantized-int dots, see
    similarity.hyperplane_signatures_batch; differential-tested):

    - ``column`` (default): quantized zip_with/aggregate column
      algebra. Interpreted, but measured FASTER than the Arrow path up
      to at least 100k×64-dim (0.37s vs 0.85s — per-row flops are tiny
      and Arrow vector serialization dominates the Python path).
    - ``numpy``: one BLAS matmul per Arrow batch. Wins when per-row
      work grows — wide embeddings (≥~512 dims) or many tables/planes
      — where the flops-to-transfer ratio flips.

    ``max_bucket``: hot-bucket guard. A degenerate (table, signature)
    bucket — template embeddings, zero vectors, a provider default —
    contributes O(|bucket|²) candidate pairs; at 100 TB one such
    bucket silently turns the "never quadratic" plan quadratic.
    With ``max_bucket`` set, buckets whose member count exceeds it are
    EXCLUDED from pair generation: a counts-only census on a slim
    key-only projection finds the OVERSIZED keys (bounded by
    n·num_tables/max_bucket, empty on healthy data), then a broadcast
    ANTI join drops their members — the data plane never re-shuffles.
    Pairs that only met in an oversized bucket are lost; the
    multi-table union recovers most (a true near-dup pair colliding in
    one table's hot bucket usually collides in another table's
    ordinary one), and the cap is deterministic so the oracle replays
    it exactly. Default 4096 (guard overhead measured ≈+10% at sf0.1,
    noise at sf1 — SCALE.md); None preserves the exact multi-table
    semantics.
    """
    from .similarity import (
        QSCALE,
        dot,
        hyperplane_signature,
        hyperplane_signatures_batch,
        l2norm,
    )

    assert verify in ("in_join", "post_join")
    assert sig_impl in ("numpy", "column")
    sigs_of = lambda: F.array(  # noqa: E731 — one (table, sig) per table
        *[
            F.struct(
                F.lit(t).alias("t"),
                hyperplane_signature(
                    F.col("_v"), num_planes=num_planes, dims=dims, seed=t * 7919, scale=QSCALE
                ).alias("sig"),
            )
            for t in range(num_tables)
        ]
    )

    def keyed_sigs(base: DataFrame, carry: list[str]) -> DataFrame:
        """(_id, carry..., _k struct(t, sig)) under either generator."""
        if sig_impl == "numpy":
            out = hyperplane_signatures_batch(
                base,
                vec_col="_v",
                id_col="_id",
                num_planes=num_planes,
                dims=dims,
                num_tables=num_tables,
                carry=carry,
            )
            return out.select(
                "_id",
                *carry,
                F.struct(F.col("table").alias("t"), F.col("sig")).alias("_k"),
            )
        return base.select("_id", *carry, F.explode(sigs_of()).alias("_k"))

    def capped(keyed: DataFrame) -> DataFrame:
        """Drop oversized buckets: counts-only census on a SLIM
        (_k-only) projection, then a broadcast ANTI join against the
        OVERSIZED key set. The hot set is bounded by construction
        (≤ n·num_tables / max_bucket keys, and empty on healthy data),
        so the anti join is a broadcast over the vector-carrying frame
        — the inverted formulation (semi-join against all SURVIVING
        keys) measured pathological at sf1: the surviving-key set is
        as big as the corpus, its struct-keyed sort-merge join forced
        the fat signature frame through two extra sorts."""
        if max_bucket is None:
            return keyed
        hot = (
            keyed.select("_k")
            .groupBy("_k")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") > max_bucket)
            .select("_k")
        )
        return keyed.join(F.broadcast(hot), "_k", "left_anti")

    if verify == "in_join":
        s = df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            l2norm(F.col(vec_col)).alias("_n"),
        )
        keyed = capped(keyed_sigs(s, ["_v", "_n"]))
        a = keyed.select(
            F.col("_id").alias("a_id"), F.col("_v").alias("_va"), F.col("_n").alias("_na"), "_k"
        )
        b = keyed.select(
            F.col("_id").alias("b_id"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"), "_k"
        )
        return (
            a.join(b, "_k")
            .filter(F.col("a_id") < F.col("b_id"))
            .select(
                "a_id",
                "b_id",
                F.round(
                    dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
                ).alias("cosine_sim"),
            )
            .filter(F.col("cosine_sim") >= threshold)
            .distinct()
        )

    s = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    keyed = capped(keyed_sigs(s, []))
    a = keyed.select(F.col("_id").alias("a_id"), "_k")
    b = keyed.select(F.col("_id").alias("b_id"), "_k")
    cand = (
        a.join(b, "_k").filter(F.col("a_id") < F.col("b_id")).select("a_id", "b_id").distinct()
    )
    vecs = df.select(
        F.col(id_col).alias("_vid"),
        F.col(vec_col).alias("_vec"),
        l2norm(F.col(vec_col)).alias("_norm"),
    )
    va = vecs.select(
        F.col("_vid").alias("a_id"), F.col("_vec").alias("_va"), F.col("_norm").alias("_na")
    )
    vb = vecs.select(
        F.col("_vid").alias("b_id"), F.col("_vec").alias("_vb"), F.col("_norm").alias("_nb")
    )
    if broadcast_vectors:
        va, vb = F.broadcast(va), F.broadcast(vb)
    return (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )
