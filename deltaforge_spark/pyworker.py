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

Sessions select it with ``spark.python.daemon.module`` (see
``session.RUNTIME_CONF``); ``spark.python.worker.module`` would not
work, because ``pyspark.daemon`` ignores worker modules whose name does
not start with ``pyspark``.
"""

from __future__ import annotations

import os
import zipimport

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


if __name__ == "__main__":
    import importlib

    install()
    from pyspark import daemon

    # record the stamps once here, so forked workers inherit them and
    # not even their first task re-reads an archive
    importlib.invalidate_caches()
    daemon.manager()
