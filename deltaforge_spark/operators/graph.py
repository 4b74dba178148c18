"""Weighted PageRank over a link graph — the web-graph quality signal
training-data pipelines attach to crawl-derived corpora (harmonic /
PageRank centrality is the standard "is this host worth keeping"
weight in CommonCrawl curation; the reference ships host-level corpus
statistics, this operator adds the graph-centrality tier on top).

Engine-reproducible by construction: all arithmetic is EXACT int64.
Ranks live in micro-units (1.0 == 1_000_000); each round computes

    contrib(u -> v) = (rank(u) * w(u,v)) div out_weight(u)
    rank'(v)        = teleport + (damp_num * sum(contrib)) div damp_den

with integer division only (``div`` truncation == DuckDB ``//`` floor
for the non-negative values here), so partial-sum order can never
change a bit and the DuckDB oracle replays identical rounds CTE by
CTE.  Dangling mass (nodes with no out-edges) is dropped — the
documented choice of the original formulation; totals are therefore
not conserved, which is irrelevant for the ranking use.

Scale shape (100-TB corpus => billions of edges, ~1e8 hosts):
- the weighted edge list is built once (groupBy (src, dst) count — one
  shuffle) and ``persist``ed; out-weights are one more counts-only
  groupBy on src.
- each round is one hash join ranks-on-src + one groupBy dst partial
  sum + one left join back to the node set: every stage shuffles on a
  single node-id key with map-side combine, nothing is ever collected
  to the driver, and AQE is free to pick shuffle-hash vs broadcast as
  the rank table is always |V| rows regardless of |E|.
- rounds are driver-coordinated with a ``persist`` per round as the
  lineage barrier (same discipline as dedup.connected_components —
  the next round plans against the InMemoryRelation, not the
  compounded join history).  n_iter is small and fixed; convergence
  probing is unnecessary for the ranking use and would cost one probe
  job per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

MICRO = 1_000_000


# shared storage-lifetime helpers (plans/lineage.py) — one audited
# release path for every peeling loop in the repo
from ..plans.lineage import persist, pin, release_pinned


def weighted_edges(pairs: DataFrame, *, src: str = "src", dst: str = "dst") -> DataFrame:
    """(src, dst) event pairs -> distinct weighted edges
    (src, dst, weight).  Self-loops are dropped (they only recycle rank
    into itself and every public formulation excludes them)."""
    return (
        pairs.filter(F.col(src) != F.col(dst))
        .groupBy(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def pagerank(
    edges: DataFrame,
    *,
    n_iter: int = 2,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Exact-integer weighted PageRank.

    ``edges`` is (src, dst, weight) with positive integer weights.
    Returns (node, rank_micro): every node appearing as src or dst,
    with its rank after ``n_iter`` rounds in int64 micro-units.

    teleport = (damp_den - damp_num) * MICRO div damp_den, i.e. the
    per-node (1 - d) term of the classic per-node formulation
    r(v) = (1-d) + d * sum_u r(u) * w(u,v) / W(u).
    """
    e = edges.select("src", "dst", F.col("weight").cast("long").alias("weight"))
    e = e.persist()
    out_w = e.groupBy("src").agg(F.sum("weight").alias("out_w"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    teleport = ((damp_den - damp_num) * MICRO) // damp_den

    ranks = nodes.select("node", F.lit(MICRO).cast("long").alias("rank_micro"))
    prev = None
    for _ in range(n_iter):
        # contrib(u->v) = (r(u) * w) div W(u); sum over in-edges of v.
        contrib = (
            e.join(out_w, "src")
            .join(ranks, e["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_micro * weight div out_w").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        new_ranks = persist(
            nodes.join(contrib, "node", "left").select(
                "node",
                (
                    F.lit(teleport).cast("long")
                    + F.expr(f"{damp_num} * coalesce(s, 0L) div {damp_den}")
                ).alias("rank_micro"),
            )
        )
        new_ranks.count()  # materialize: lineage barrier per round
        if prev is not None:
            release_pinned(prev)
        prev, ranks = new_ranks, new_ranks
    # release the per-call inputs; the RETURNED frame stays persisted
    # until the caller's pin_scope closes
    e.unpersist()
    nodes.unpersist()
    return ranks


def pagerank_top_hosts(
    edges: DataFrame, *, n_iter: int = 2, top_n: int = 25
) -> DataFrame:
    """Ranking view: top-N nodes by rank with a dense position column.
    TakeOrderedAndProject shape — never a global sort of |V|."""
    ranks = pagerank(edges, n_iter=n_iter)
    top = ranks.orderBy(F.desc("rank_micro"), "node").limit(top_n)
    w = F.row_number().over(Window.orderBy(F.desc("rank_micro"), "node"))
    return top.withColumn("position", w)


def label_propagation(
    edges: DataFrame,
    *,
    n_iter: int = 2,
) -> DataFrame:
    """Synchronous weighted label propagation (community detection —
    Raghavan et al. 2007, made deterministic): every node starts as its
    own label; each round, a node adopts the label with the greatest
    total incident edge weight among its neighbors, ties broken by the
    SMALLEST label. Undirected: edges are symmetrized first.

    Returns (node, label) after ``n_iter`` rounds. Fully deterministic
    (the classic formulation breaks ties randomly; min-label makes
    every engine agree), integer-only, so a SQL oracle replays rounds
    CTE by CTE.

    Scale shape: one symmetrize union + groupBy; each round is one
    hash join labels-on-src + one (node, label) partial-sum groupBy +
    one node-keyed window argmax — every stage keyed on a single
    node-id column, map-side combined, |labels| <= |V| rows. Same
    persist-per-round lineage barrier as pagerank/CC.
    """
    from pyspark.sql import Window

    sym = (
        edges.select("src", "dst", "weight")
        .unionAll(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("weight").cast("long").alias("w"))
        .persist()
    )
    nodes = sym.select(F.col("src").alias("node")).distinct().persist()
    labels = nodes.select("node", F.col("node").alias("label"))
    prev = None
    w_arg = Window.partitionBy("node").orderBy(F.desc("vote_w"), F.asc("label"))
    for _ in range(n_iter):
        votes = (
            sym.join(labels, sym["dst"] == labels["node"])
            .select(F.col("src").alias("node"), "label", "w")
            .groupBy("node", "label")
            .agg(F.sum("w").alias("vote_w"))
        )
        new_labels = persist(
            votes.withColumn("_rk", F.row_number().over(w_arg))
            .filter(F.col("_rk") == 1)
            .select("node", "label")
        )
        new_labels.count()
        if prev is not None:
            release_pinned(prev)
        prev, labels = new_labels, new_labels
    sym.unpersist()
    nodes.unpersist()
    return labels


def triangle_counts(
    pairs: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    materialize: bool = True,
) -> DataFrame:
    """Per-node triangle counts via the degree-ordered node-iterator
    (the standard distributed algorithm — Suri & Vassilvitskii's MR
    triangle counting): orient every undirected edge from its
    lower-(degree, id) endpoint to the higher one, build wedges by
    joining out-edges on their pivot, close each wedge against the
    oriented edge set. The orientation is the scale trick: a node's
    out-degree under the total order is O(sqrt(m)) even when its raw
    degree is huge (a celebrity host never becomes a wedge pivot for
    its full neighborhood), so wedge fan-out — the only superlinear
    term — is bounded by graph arboricity, not by max degree.

    Shuffles: edge dedup groupBy, degree groupBy, wedge self-join on
    the pivot key, closing join on the (lo, hi) edge key, final
    node-keyed count. No driver collection; triangle SET is
    orientation-independent, so the DuckDB oracle verifies with the
    simple canonical a<b<c three-way join."""
    lo, hi = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    und = (
        pairs.filter(F.col(src) != F.col(dst))
        .select(lo.alias("u"), hi.alias("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    ed = und.join(du, "u").join(dv, "v")
    u_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    # local checkpoint (eager), not persist: three consumers (both wedge
    # sides + the closing join) read the materialized pass, and the
    # blocks are explicitly released below once counts materialize —
    # a bare persist here leaked executor storage for the session
    # lifetime (r7 ADVICE)
    oriented = pin(
        ed.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(u_first, F.col("deg_v")).otherwise(F.col("deg_u")).alias("deg_b"),
        ),
        reliable=False,
    )
    e1 = oriented.select("a", F.col("b").alias("x"), F.col("deg_b").alias("deg_x"))
    e2 = oriented.select("a", F.col("b").alias("y"), F.col("deg_b").alias("deg_y"))
    x_first = (F.col("deg_x") < F.col("deg_y")) | (
        (F.col("deg_x") == F.col("deg_y")) & (F.col("x") < F.col("y"))
    )
    wedges = e1.join(e2, "a").filter(x_first).select("a", "x", "y")
    closing = oriented.select(F.col("a").alias("x"), F.col("b").alias("y"))
    triangles = wedges.join(closing, ["x", "y"])
    counts = (
        triangles.select(F.col("a").alias("node"))
        .unionAll(triangles.select(F.col("x").alias("node")))
        .unionAll(triangles.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    if not materialize:
        # plan-inspection path (test_plan_shape): the oriented
        # checkpoint belongs to the caller's pin_scope
        return counts
    # node-grain result, materialized so the (much larger) oriented
    # edge pass can be released before returning
    counts = pin(counts, reliable=False)
    release_pinned(oriented)
    return counts


def kcore(
    pairs: DataFrame,
    k: int,
    *,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 64,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    every node whose degree in the SURVIVING subgraph is < k until a
    fixpoint; return the surviving nodes with their in-core degree
    ``(node, core_deg)``. The k-core is the standard "dense backbone"
    extractor crawl curation runs after centrality — link farms and
    orphan pages peel away, organically-embedded hosts survive
    (Seidman 1983; the distributed peeling loop is the same
    join-per-round shape as connected_components).

    Scale shape: each round is (a) one counts-only degree groupBy and
    (b) two leftsemi joins of the edge list against the surviving node
    set — all keyed on a single node id, map-side combined, never
    collected. Each round's edge list is locally checkpointed, NOT
    merely persisted: every round references its predecessor ~5 times
    (degree union twice, keep-set semi-joins twice through the degree
    table), so a persist-only barrier leaves Catalyst re-analyzing a
    5^round-node logical plan — measured as a 2 GiB plan string and
    analysis-bound rounds by round 8. Checkpointing truncates lineage
    so every round plans against a constant-size scan (the same reason
    dedup.connected_components checkpoints where load-bearing; fault
    tolerance at 100 TB comes from re-running the bounded round, not
    from replaying lineage). Round count equals the peel depth of the
    graph — small for real web graphs (degeneracy ordering converges
    fast); pathological chains are cut off by ``max_rounds``.
    """
    lo, hi = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    edges = pin(
        pairs.filter(F.col(src) != F.col(dst)).select(lo.alias("u"), hi.alias("v")).distinct(),
        reliable=False,
    )
    n_edges = edges.count()
    for _ in range(max_rounds):
        if n_edges == 0:
            break
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
        )
        keep = deg.filter(F.col("core_deg") >= k)
        nxt = pin(
            edges.join(keep.select(F.col("node").alias("u")), "u", "leftsemi")
            .join(keep.select(F.col("node").alias("v")), "v", "leftsemi")
            .select("u", "v"),
            reliable=False,
        )
        n_nxt = nxt.count()
        if n_nxt == n_edges:  # fixpoint: nobody peeled this round
            # materialize the node-grain answer, then free BOTH edge
            # checkpoints (superseded rounds must not accumulate
            # executor storage across invocations — r7 ADVICE)
            out = pin(keep, reliable=False)
            release_pinned(nxt)
            release_pinned(edges)
            return out
        release_pinned(edges)  # superseded round
        edges, n_edges = nxt, n_nxt
    # empty core (or max_rounds hit on a pathological chain): the
    # surviving degree table of whatever remains — empty when n_edges=0
    out = pin(
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
        .filter(F.col("core_deg") >= k),
        reliable=False,
    )
    release_pinned(edges)
    return out
