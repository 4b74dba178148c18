"""Storage lifetimes: lineage barriers, caches and the scope that owns them.

Spark has no public "release this checkpoint" API: the blocks (or
checkpoint files) behind a pinned frame live until the ContextCleaner
notices the RDD is unreachable, which on a long-lived session means
every query, peeling round or archive-replay slice accumulates storage.
The one rule: storage that outlives an operator call is made with
:func:`pin` or :func:`persist`, and the caller owns its lifetime with
:func:`pin_scope`:

- :func:`pin` — truncate lineage, reliably when a checkpoint dir is
  configured (survives executor loss), locally otherwise.
- :func:`persist` — ``df.persist()`` for a frame whose cache must
  outlive the call that made it.
- :func:`release_pinned` — free the storage behind a pinned or
  persisted frame the moment it is superseded: executor blocks for
  ``localCheckpoint`` and caches, checkpoint files (via the Hadoop FS
  API, so HDFS/S3 dirs work too) for reliable checkpoints.
- :func:`pin_scope` — every frame :func:`pin` or :func:`persist` makes
  while the scope is open is released when it exits, by return or by
  raise. Open it around "build the query, then consume it": inside the
  scope the returned frame is computable, after it the frame's backing
  storage is gone. With no scope open nothing is registered, and the
  storage lives until the ContextCleaner collects it.

Scopes are context-local (``contextvars``): a py4j callback thread or a
concurrent pipeline never registers into another thread's scope, and a
scope releases only what it registered — it never clears the session.

``session.ensure_checkpoint_dir`` wires a default checkpoint dir into
every locally-built session (VERDICT r10 #3), so the reliable branch
is the PRODUCTION default; ``pin(df, reliable=False)`` is the explicit
opt-out for loops whose rounds are cheap to recompute and whose caller
prefers executor-memory pinning.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark.sql import DataFrame

__all__ = ["pin", "persist", "pin_scope", "release_pinned"]

#: the open scopes of this context, innermost last; each maps
#: ``id(frame)`` to the frame (the strong reference keeps the id unique)
_SCOPES: ContextVar[tuple[dict[int, DataFrame], ...]] = ContextVar(
    "deltaforge_pin_scopes", default=()
)


def _register(df: DataFrame) -> DataFrame:
    scopes = _SCOPES.get()
    if scopes:
        scopes[-1][id(df)] = df
    return df


@contextmanager
def pin_scope() -> Iterator[None]:
    """Own every frame :func:`pin` / :func:`persist` make inside the
    block: on exit, by return or by raise, each one still registered is
    released with :func:`release_pinned`. Nested scopes own only their
    own frames."""
    owned: dict[int, DataFrame] = {}
    token = _SCOPES.set(_SCOPES.get() + (owned,))
    try:
        yield
    finally:
        _SCOPES.reset(token)
        for df in reversed(list(owned.values())):
            release_pinned(df)


def pin(df: DataFrame, *, eager: bool = True, reliable: bool | None = None) -> DataFrame:
    """Materialize ``df`` behind a lineage barrier, owned by the
    innermost open :func:`pin_scope`.

    ``reliable=None`` (default) resolves from the session: with
    ``setCheckpointDir`` configured (which ``session.py`` defaults for
    local masters), uses RELIABLE checkpointing — blocks land in the
    checkpoint dir, so a lost executor recomputes nothing and long
    archive-replay jobs survive node loss. Without one — or with
    ``reliable=False`` — falls back to ``localCheckpoint``: faster,
    but the pinned partitions live only in executor storage, and
    losing an executor fails the job instead of recomputing.

    The reliable branch persists the frame around the checkpoint:
    ``Dataset.checkpoint(eager=True)`` otherwise computes the plan
    TWICE (once for the materializing action, once more when the
    checkpoint-write job re-runs the RDD) — the transient cache makes
    the write job a cache read, and is dropped before returning.
    """
    sc = df.sparkSession.sparkContext
    if reliable is None:
        reliable = sc.getCheckpointDir() is not None
    if not reliable:
        return _register(df.localCheckpoint(eager=eager))
    if sc.getCheckpointDir() is None:
        raise ValueError("pin(reliable=True) needs spark.sparkContext.setCheckpointDir")
    if not eager:
        return _register(df.checkpoint(eager=False))
    # unpersist() is keyed by logical plan, not by who persisted: if
    # the CALLER already cached this frame, a transient persist here
    # followed by unpersist(True) would silently evict the caller's
    # cache entry (ADVICE r11). Skip the transient cache then — the
    # checkpoint-write job reads the caller's cache instead.
    already_cached = df.storageLevel.useMemory or df.storageLevel.useDisk
    if already_cached:
        return _register(df.checkpoint(eager=True))
    cached = df.persist()
    try:
        return _register(df.checkpoint(eager=True))
    finally:
        # blocking: callers (and the storage-bound tests) must observe
        # the transient cache as gone the moment pin() returns
        cached.unpersist(True)


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, owned by the innermost open :func:`pin_scope`:
    for a cache that backs the frame an operator returns (it keeps the
    frame's partitioning, or several consumers read it)."""
    return _register(df.persist())


def release_pinned(df: DataFrame) -> None:
    """Free the storage behind a ``pin``'ed or ``persist``'ed frame and
    drop it from the scope that owns it.

    localCheckpoint: the checkpointed plan is a LogicalRDD scan over a
    cached RDD; unpersisting that RDD releases its blocks immediately
    instead of waiting for the ContextCleaner — the difference between
    a loop whose superseded rounds accumulate executor storage for the
    session lifetime and one whose footprint is a single round.

    Reliable checkpoint: deletes the RDD's checkpoint files through
    the Hadoop FS API (so local dirs, HDFS and S3 all work). Only
    call once the frame is genuinely superseded — the files are its
    ONLY materialization.

    Persisted (cached) frame: ``DataFrame.unpersist`` drops its blocks.

    Best-effort: a plan that isn't a checkpoint scan or a cached frame
    is a silent no-op."""
    for owned in _SCOPES.get():
        if owned.get(id(df)) is df:
            del owned[id(df)]
    try:
        if df.storageLevel.useMemory or df.storageLevel.useDisk:
            df.unpersist(False)
    except Exception:  # pragma: no cover
        pass
    try:
        jrdd = df._jdf.queryExecution().logical().rdd()
    except Exception:  # pragma: no cover - non-checkpoint plans
        return
    try:
        jrdd.unpersist(False)
    except Exception:  # pragma: no cover
        pass
    try:
        opt = jrdd.getCheckpointFile()
        if opt is not None and opt.isDefined():
            sc = df.sparkSession.sparkContext
            jvm = sc._jvm
            path = jvm.org.apache.hadoop.fs.Path(opt.get())
            fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
            fs.delete(path, True)
    except Exception:  # pragma: no cover - fs races are non-fatal
        pass
