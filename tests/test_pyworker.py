"""The Python worker daemon entry point (deltaforge_spark/pyworker.py):
``importlib.invalidate_caches()`` re-reads a zip archive's directory
only when the archive changed, the daemon preloads and freezes the
numpy/pandas/pyarrow stack before it forks, and engine sessions run
their Python tasks under both."""

import json
import os
import subprocess
import sys
import textwrap

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# runs in a fresh interpreter so the patch never touches the test process
_PROBE = textwrap.dedent(
    """
    import importlib, json, sys, zipfile, zipimport

    from deltaforge_spark import pyworker

    archive = sys.argv[1]

    def write(version):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zmod.py", f"VERSION = {version}\\n" + "# pad\\n" * version)

    reads = []
    stock_read = zipimport._read_directory
    zipimport._read_directory = lambda a: reads.append(a) or stock_read(a)

    def invalidate_twice():
        n = reads.count(archive)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        return reads.count(archive) - n

    write(1)
    sys.path.insert(0, archive)
    import zmod

    out = {"v1": zmod.VERSION, "stock_reads": invalidate_twice()}
    out["installed"] = pyworker.install()
    out["patched_reads"] = invalidate_twice()
    out["unchanged_reads"] = invalidate_twice()
    write(2)
    out["rewritten_reads"] = invalidate_twice()
    del sys.modules["zmod"]
    import zmod

    out["v2"] = zmod.VERSION
    print(json.dumps(out))
    """
)


_PRELOAD_PROBE = textwrap.dedent(
    """
    import gc, json, sys

    from deltaforge_spark import pyworker

    before = gc.get_freeze_count()
    pyworker.preload()
    print(json.dumps({
        "frozen_before": before,
        "frozen": gc.get_freeze_count(),
        "enabled": gc.isenabled(),
        "missing": [m for m in sys.argv[1:] if m not in sys.modules],
        "engine": sorted(m for m in sys.modules if m.split(".")[0] == "deltaforge_spark"),
    }))
    """
)


class TestPreload:
    STACK = ["numpy", "pandas", "pyarrow", "pyspark.sql.pandas.serializers",
             "pyspark.sql.pandas.types"]

    def test_stack_imported_frozen_and_collector_on(self):
        env = dict(os.environ, PYTHONPATH=ROOT)
        proc = subprocess.run(
            [sys.executable, "-c", _PRELOAD_PROBE, *self.STACK],
            env=env, capture_output=True, text=True, timeout=120, check=True,
        )
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        assert out["missing"] == []
        assert out["frozen_before"] == 0 and out["frozen"] > 0
        assert out["enabled"] is True
        # engine modules stay out of the daemon, so a job's addPyFile
        # copy is what its workers import
        assert out["engine"] == ["deltaforge_spark", "deltaforge_spark.pyworker"]


class TestArchiveReads:
    def test_directory_read_once_and_again_after_rewrite(self, tmp_path):
        env = dict(os.environ, PYTHONPATH=ROOT)
        proc = subprocess.run(
            [sys.executable, "-c", _PROBE, str(tmp_path / "mods.zip")],
            env=env, capture_output=True, text=True, timeout=120, check=True,
        )
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        assert out["installed"] is True
        assert out["v1"] == 1
        # stock: every call re-reads the archive's central directory
        assert out["stock_reads"] == 2
        # patched: two calls read it once (recording its stamp), then never
        assert out["patched_reads"] == 1
        assert out["unchanged_reads"] == 0
        # a rewritten archive is read again and its new module imports
        assert out["rewritten_reads"] == 1
        assert out["v2"] == 2


def test_session_tasks_run_patched(spark):
    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        patched = getattr(zipimport.zipimporter.invalidate_caches, "_reads_changed_only", False)
        yield pd.DataFrame({"patched": [patched]})

    assert spark.conf.get("spark.python.daemon.module") == "deltaforge_spark.pyworker"
    rows = spark.range(0, 4, numPartitions=2).mapInPandas(probe, "patched boolean").collect()
    assert [r.patched for r in rows] == [True, True]


def test_session_tasks_fork_from_frozen_daemon(spark):
    def probe(batches):
        import gc

        for _ in batches:
            pass
        yield pd.DataFrame({"frozen": [gc.get_freeze_count()]})

    rows = spark.range(0, 4, numPartitions=2).mapInPandas(probe, "frozen long").collect()
    assert len(rows) == 2 and all(r.frozen > 0 for r in rows)
