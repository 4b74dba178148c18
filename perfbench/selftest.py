"""Self-test of the benchmark: every workload at a tiny size, untraced
and traced, must print every metric named in BENCHMARK.json with its
unit and pass its output checks; the result printer must survive bad
values; and a directory holding only the benchmark must fail cleanly.

    python3 perfbench/selftest.py    # about two and a half minutes on 4 cores
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE]

import run  # noqa: E402


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def check_printer() -> None:
    names = {"a": "s", "b": "count", "c": "MB"}
    line = json.loads(run.result_line(names, {"a": 1.5, "b": "x", "c": float("nan")},
                                      attempted=2, failed=0, correct=True))
    assert line["metrics"]["a"] == {"value": 1.5, "unit": "s"}, line
    assert line["metrics"]["b"]["value"] is None and line["metrics"]["c"]["value"] is None
    assert line["failed"] == 2 and line["correct"] is False, line


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_workload(workload: str, trace: int) -> None:
    spec = _spec()
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    p = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", str(trace), "--tiny")
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    assert set(res["metrics"]) == set(want), set(res["metrics"]) ^ set(want)
    for name, unit in want.items():
        m = res["metrics"][name]
        assert m["unit"] == unit and isinstance(m["value"], (int, float)), (name, m)


def check_bare_directory() -> None:
    """Only BENCHMARK.json and perfbench/: exit non-zero, print no result."""
    base = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(base, exist_ok=True)
    d = tempfile.mkdtemp(dir=base)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(d, "--workload", "mysql_drain", "--seed", "1", "--seconds", "1",
                 "--trace", "0")
        assert p.returncode != 0 and '"metrics"' not in p.stdout, (p.returncode, p.stdout)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def main() -> int:
    check_printer()
    check_bare_directory()
    for workload in (w["name"] for w in _spec()["workloads"]):
        for trace in (0, 1):
            check_workload(workload, trace)
            print(f"ok {workload} trace={trace}", flush=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
