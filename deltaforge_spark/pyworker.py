"""Python worker daemon entry point for engine sessions.

Every PySpark task starts with ``setup_spark_files``, which calls
``importlib.invalidate_caches()``. On Python 3.11 that makes every
``zipimporter`` re-read its archive's central directory: the 16
importers over ``pyspark.zip`` (about 1,300 entries) cost 0.2-0.4 s of
CPU per task on a reused worker, which is most of the Python-side cost
of a small decode task.

This module installs a ``zipimporter.invalidate_caches`` that re-reads
an archive only when its (inode, mtime_ns, size) changed since its last
read, then runs the stock daemon (``pyspark.daemon.manager``). Forked
workers inherit the patch. Archives that are added (``addPyFile``) or
rewritten still get a fresh directory read.

Before the daemon forks its first worker, :func:`preload` imports the
numpy/pandas/pyarrow stack and PySpark's Arrow serializers (``PRELOAD``)
with the collector off, then calls ``gc.freeze()``. Every worker forks
with that stack already in memory and shares its pages copy-on-write
instead of importing its own copy on its first task. The freeze is what
keeps the pages shared: a collection touches the header of every object
it tracks, which writes to (and so copies) the page holding it, and the
daemon runs ``gc.collect()`` in each worker after every task; frozen
objects are never visited. On ``pg_drain`` (4-core host) an engine
worker held 62 MB PSS without the preload, 46 MB with it but without the
freeze, and 32 MB with both. No ``deltaforge_spark`` module is
preloaded: engine modules are small next to the stack, and a preloaded
one would shadow the copy that a job ships with ``addPyFile``. The
daemon forks with the threads these imports start (OpenBLAS's pool,
Arrow's jemalloc background thread); both libraries register fork
handlers, and a child starts its own threads when it first needs them.

Sessions select it with ``spark.python.daemon.module`` (see
``session.RUNTIME_CONF``); ``spark.python.worker.module`` would not
work, because ``pyspark.daemon`` ignores worker modules whose name does
not start with ``pyspark``.
"""

from __future__ import annotations

import gc
import importlib
import os
import zipimport

#: what :func:`preload` imports into the daemon: the stack every pandas
#: or Arrow task (mapInPandas, applyInPandas, Python data sources) needs
PRELOAD = (
    "numpy",
    "pandas",
    "pyarrow",
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
)

# archive path -> (inode, mtime_ns, size) as stat'ed before its last read
_read_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` in this process.

    Returns False, leaving the stock method in place, when ``zipimport``
    lacks the private directory cache the patch relies on."""
    cache = getattr(zipimport, "_zip_directory_cache", None)
    if not isinstance(cache, dict):
        return False
    stock = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        # stat before the read: an archive rewritten between the two is
        # read again next time instead of being pinned to stale entries
        stamp = _stamp(self.archive)
        files = cache.get(self.archive)
        if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
            self._files = files
            return
        stock(self)
        _read_stamps[self.archive] = stamp

    invalidate_caches._reads_changed_only = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def preload() -> None:
    """Import ``PRELOAD`` into this process, then freeze every object it
    holds: ``gc.freeze()`` moves them to the permanent generation, which
    no later collection here or in a forked child visits. The collector
    is off during the imports, so no collection frees holes between the
    objects that are about to be shared, and back on when this returns."""
    gc.disable()
    for name in PRELOAD:
        importlib.import_module(name)
    gc.freeze()
    gc.enable()


if __name__ == "__main__":
    install()
    from pyspark import daemon

    # record the stamps once here, so forked workers inherit them and
    # not even their first task re-reads an archive
    importlib.invalidate_caches()
    # last, so the freeze also covers the daemon's own imports
    preload()
    daemon.manager()
