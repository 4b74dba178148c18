"""plans/lineage.py — the shared lineage-barrier helpers.

The helpers exist because Spark has no public "release this
checkpoint" API: superseded rounds of an iterative operator (or
archive-replay slices of the pgoutput distributed pairer) otherwise
accumulate storage until the ContextCleaner notices. These tests pin:

- the RELIABLE branch is LIVE on a default session (VERDICT r10 #3:
  session.py wires a checkpoint dir, so executor loss ⇒ recompute,
  not job failure — previously nothing ever set one and the branch
  was dead code);
- ``release_pinned`` actually frees the superseded frame's storage
  in BOTH branches: executor blocks (localCheckpoint) and checkpoint
  files (reliable), not just "doesn't crash";
- ``pin(reliable=False)`` remains the explicit local opt-out;
- ``pin_scope`` owns every frame ``pin``/``persist`` make inside it and
  releases them on exit, by return or by raise.
"""

import os

import pytest
from check import storage_counts, storage_surplus
from pyspark.sql import functions as F

from deltaforge_spark.plans.lineage import persist, pin, pin_scope, release_pinned


def _stored_rdd_ids(spark) -> set:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id() for i in infos if i.numCachedPartitions() > 0}


def _checkpoint_file(df) -> str | None:
    opt = df._jdf.queryExecution().logical().rdd().getCheckpointFile()
    return opt.get() if opt.isDefined() else None


def test_atexit_cleanup_path_strips_uri_scheme(spark):
    """ADVICE r11 (medium): ensure_checkpoint_dir registers an atexit
    rmtree on getCheckpointDir(), which is a 'file:'-scheme URI —
    rmtree on the raw URI silently no-ops (FileNotFoundError swallowed
    by ignore_errors) and the per-app UUID dir leaks tmpfs across
    runs. The cleanup must target the LOCAL path."""
    import os

    from deltaforge_spark.session import _local_checkpoint_path

    created = spark.sparkContext.getCheckpointDir()
    assert created is not None
    local = _local_checkpoint_path(created)
    assert not local.startswith("file:")
    assert os.path.isdir(local), f"cleanup path {local!r} is not a real dir"
    # scheme-less inputs pass through untouched
    assert _local_checkpoint_path("/tmp/x") == "/tmp/x"


def test_pin_does_not_evict_caller_cache(spark):
    """ADVICE r11 (low): pin()'s eager reliable branch wraps the
    checkpoint in a transient persist/unpersist — but unpersist is
    keyed by logical plan, so if the CALLER had already persisted the
    same frame, pin() would silently evict the caller's cache. The
    already-cached fast path must leave it cached."""
    df = spark.range(5_000).withColumn("v", F.col("id") % 13)
    df.persist()
    try:
        df.count()  # materialize the caller's cache
        before = _stored_rdd_ids(spark)
        pinned = pin(df)
        try:
            assert pinned.count() == 5_000
            assert df.storageLevel.useMemory or df.storageLevel.useDisk, (
                "pin() evicted the caller's cache entry"
            )
            # the caller's cached blocks must still be stored
            assert before & _stored_rdd_ids(spark), (
                "caller's cached RDD blocks were dropped by pin()"
            )
        finally:
            release_pinned(pinned)
    finally:
        df.unpersist(True)


def test_default_session_takes_reliable_branch(spark):
    # the archive-replay durability fix: a session built by get_spark /
    # apply_runtime_conf has a checkpoint dir, so pin() == reliable
    assert spark.sparkContext.getCheckpointDir() is not None
    pinned = pin(spark.range(1_000).withColumn("v", F.col("id") % 7))
    try:
        assert pinned.count() == 1_000
        cf = _checkpoint_file(pinned)
        assert cf is not None, "default session should take the reliable branch"
        local = cf.replace("file:", "")
        assert os.path.isdir(local), "reliable checkpoint wrote no files"
    finally:
        release_pinned(pinned)
    assert not os.path.isdir(local), "release_pinned left checkpoint files"


def test_release_pinned_shrinks_local_checkpoint_storage(spark):
    before = _stored_rdd_ids(spark)
    df = spark.range(10_000).withColumn("v", F.col("id") * 2)
    pinned = pin(df, reliable=False)  # explicit local opt-out
    pinned.count()
    held = _stored_rdd_ids(spark) - before
    assert held, "localCheckpoint should cache blocks"
    release_pinned(pinned)
    after = _stored_rdd_ids(spark) - before
    assert not (held & after), f"blocks not released: {held & after}"


def test_release_is_noop_on_plain_plans(spark):
    # a non-checkpoint plan must be a silent no-op, not an exception
    df = spark.range(10).withColumn("v", F.col("id") + 1)
    release_pinned(df)
    assert df.count() == 10


def test_iterative_loop_storage_is_bounded_local(spark):
    """The pattern graph.py/pgoutput use: each round's pin supersedes
    the previous round's; releasing the superseded frame keeps live
    checkpoint storage at O(1 round), not O(rounds)."""
    before = _stored_rdd_ids(spark)
    cur = pin(spark.range(1_000).withColumn("v", F.lit(0)), reliable=False)
    cur.count()
    for r in range(1, 4):
        nxt = pin(cur.withColumn("v", F.col("v") + 1), reliable=False)
        nxt.count()
        release_pinned(cur)
        cur = nxt
        live = _stored_rdd_ids(spark) - before
        assert len(live) <= 2, f"round {r}: {len(live)} checkpoints live"
    assert cur.agg(F.max("v")).first()[0] == 3
    release_pinned(cur)


def test_iterative_loop_storage_is_bounded_reliable(spark):
    """Same loop on the reliable (default) branch: superseded rounds'
    checkpoint FILES are deleted, so the dir holds O(1 round)."""
    ckpt_root = spark.sparkContext.getCheckpointDir().replace("file:", "")

    def n_rdd_dirs() -> int:
        return sum(1 for d in os.listdir(ckpt_root) if d.startswith("rdd-"))

    before = n_rdd_dirs()
    cur = pin(spark.range(1_000).withColumn("v", F.lit(0)))
    cur.count()
    for r in range(1, 4):
        nxt = pin(cur.withColumn("v", F.col("v") + 1))
        nxt.count()
        release_pinned(cur)
        cur = nxt
        live = n_rdd_dirs() - before
        assert live <= 2, f"round {r}: {live} checkpoint dirs live"
    assert cur.agg(F.max("v")).first()[0] == 3
    release_pinned(cur)
    assert n_rdd_dirs() - before <= 0


def test_pin_reliable_requires_dir(spark):
    sc = spark.sparkContext
    saved = sc.getCheckpointDir()
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
    try:
        assert sc.getCheckpointDir() is None
        # auto mode falls back to localCheckpoint without a dir
        pinned = pin(spark.range(100))
        assert pinned.count() == 100
        assert _checkpoint_file(pinned) is None
        release_pinned(pinned)
        import pytest

        with pytest.raises(ValueError, match="setCheckpointDir"):
            pin(spark.range(10), reliable=True)
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(saved)
        )


def test_archive_path_pins_reliably_on_default_session(spark, monkeypatch):
    """VERDICT r10 #3's done-criterion: the pgoutput archive path's
    rank pinning (_ranked_by_seq, the 100-TB replay branch) takes the
    RELIABLE checkpoint on a DEFAULT session — executor loss there now
    recomputes instead of killing a multi-hour replay."""
    import deltaforge_spark.plans.lineage as lineage
    from deltaforge_spark.sources.pgoutput import _ranked_by_seq

    reliable_taken = []
    orig = lineage.pin

    def spy(df, **kw):
        out = orig(df, **kw)
        reliable_taken.append(_checkpoint_file(out) is not None)
        return out

    monkeypatch.setattr(lineage, "pin", spy)
    df = spark.range(1_000).withColumnRenamed("id", "seq")
    ranked, pinned = _ranked_by_seq(df)
    try:
        assert ranked.count() == 1_000
    finally:
        release_pinned(pinned)
    assert reliable_taken and all(reliable_taken)


def _exists(f: str) -> bool:
    return os.path.exists(f.replace("file:", ""))


def test_pin_scope_releases_on_normal_exit(spark):
    """Every pin and persist made inside the scope is released when it
    exits: checkpoint files deleted, caches dropped."""
    before = storage_counts(spark)
    with pin_scope():
        pinned = pin(spark.range(2_000).withColumn("v", F.col("id") % 7))
        f = _checkpoint_file(pinned)
        cached = persist(spark.range(500).withColumn("w", F.col("id") * 3))
        assert cached.count() == 500
        assert f is not None and _exists(f)
        assert pinned.groupBy("v").count().count() == 7
    assert not _exists(f)
    assert not (cached.storageLevel.useMemory or cached.storageLevel.useDisk)
    assert storage_surplus(spark, before) == (0, 0, 0)


def test_pin_scope_releases_on_raise(spark):
    before = storage_counts(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with pin_scope():
            pinned = pin(spark.range(1_000))
            persist(spark.range(300)).count()
            raise RuntimeError("boom")
    assert not _exists(_checkpoint_file(pinned))
    assert storage_surplus(spark, before) == (0, 0, 0)


def test_nested_scopes_own_only_their_own_pins(spark):
    with pin_scope():
        outer = pin(spark.range(1_000))
        with pin_scope():
            inner = pin(spark.range(2_000))
        assert not _exists(_checkpoint_file(inner))
        # the inner exit left the outer scope's pin computable
        assert _exists(_checkpoint_file(outer))
        assert outer.count() == 1_000
    assert not _exists(_checkpoint_file(outer))


def test_pin_without_scope_stays_unowned(spark):
    """With no scope open nothing is registered: an unrelated scope
    opened later does not release the earlier pin."""
    loose = pin(spark.range(1_000))
    try:
        with pin_scope():
            pin(spark.range(10)).count()
        assert _exists(_checkpoint_file(loose))
        assert loose.count() == 1_000
    finally:
        release_pinned(loose)
    assert not _exists(_checkpoint_file(loose))


def test_release_pinned_drops_frame_from_its_scope(spark, monkeypatch):
    """A frame released in-loop (a superseded round) leaves its scope,
    so the scope's exit releases only what is still live."""
    import deltaforge_spark.plans.lineage as lineage

    released = []
    orig = lineage.release_pinned

    def spy(df):
        released.append(df)
        orig(df)

    with pin_scope():
        first = pin(spark.range(100))
        second = pin(spark.range(200))
        lineage.release_pinned(first)
        monkeypatch.setattr(lineage, "release_pinned", spy)
    assert released == [second]


def test_bpe_apply_retains_last_chunk_pin(spark):
    """The >1-chunk bpe_apply_merges path leaves its final inter-chunk
    pin behind the result (the last chunk reads it); the caller's
    scope frees it once the result is consumed."""
    from deltaforge_spark.operators.textanalysis import bpe_apply_merges

    docs = spark.createDataFrame(
        [(1, "aab aab bba"), (2, "abab baba")], "doc_id INT, text STRING"
    )
    merges = spark.createDataFrame(
        [(1, "a", "a"), (2, "b", "b"), (3, "aa", "b")],
        "merge_rank INT, left_sym STRING, right_sym STRING",
    )
    before = storage_counts(spark)
    with pin_scope():
        out = bpe_apply_merges(docs, merges, chunk=2)
        rows = {r["doc_id"]: r["n_bpe_tokens"] for r in out.collect()}
        assert storage_surplus(spark, before)[2] > 0, "last chunk pin must stay live"
    assert rows and all(v > 0 for v in rows.values())
    assert storage_surplus(spark, before) == (0, 0, 0)


def test_perplexity_bins_result_is_releasable(spark):
    """perplexity_bins returns its own eager pin; the caller's scope
    deletes its checkpoint files."""
    from deltaforge_spark.operators.lm import perplexity_bins, unigram_lm

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} w{i % 3} common") for i in range(30)],
        "doc_id INT, text STRING",
    )
    lm = unigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    with pin_scope():
        out = perplexity_bins(docs, lm, n_bins=3)
        assert out.count() == 30
        f = _checkpoint_file(out)
        assert f is not None and _exists(f)
    assert not _exists(f)


def test_iterative_operators_release_all_storage(spark):
    """r13 optimization: every cache/checkpoint an operator leaves alive
    behind its result belongs to the caller's scope. Unreleased caches
    accumulate one CacheManager entry per invocation; measured
    in-session, dozens of stale entries inflated unrelated queries ~6x
    (storage pressure + per-query cache-plan matching)."""
    from deltaforge_spark.operators.clustering import kmeans_fit_assign
    from deltaforge_spark.operators.dedup import (
        connected_components,
        connected_components_logstar,
    )
    from deltaforge_spark.operators.graph import (
        kcore,
        label_propagation,
        pagerank,
        triangle_counts,
        weighted_edges,
    )
    from deltaforge_spark.operators.similarity import semantic_dedup

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7)], "doc_a LONG, doc_b LONG"
    )
    pairs = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(12)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    before = storage_counts(spark)
    with pin_scope():
        cases = [
            connected_components(edges),
            connected_components_logstar(edges),
            pagerank(weighted_edges(pairs), n_iter=2),
            label_propagation(weighted_edges(pairs), n_iter=2),
            kcore(pairs, 1),
            triangle_counts(pairs),
            semantic_dedup(emb, n_cells=2),
            kmeans_fit_assign(emb, k=2, n_iter=1),
        ]
        for out in cases:
            out.collect()
        assert any(storage_surplus(spark, before)), "operators should hold storage"
    assert storage_surplus(spark, before) == (0, 0, 0), "storage left behind after the scope"


@pytest.mark.parametrize("name", ["basket_brand_lift", "doc_epoch_shuffle"])
def test_query_leaves_nothing_behind_its_scope(spark, sf_dir, name):
    """The two queries whose cache (basket_brand_lift's per-order
    brands) and local checkpoint (epoch_shuffle's ranked result) were
    made outside pin/persist and so outlived every release."""
    import __spark_entry__ as entry

    before = storage_counts(spark)
    with pin_scope():
        assert entry.queries()[name](spark, sf_dir).collect()
    assert storage_surplus(spark, before) == (0, 0, 0)
