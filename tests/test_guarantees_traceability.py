"""GUARANTEES.md is a traceability matrix (the analog of the
reference's guarantees.md:343-374 guarantee→test table): every test
file and declared query it cites as "pinned by" must actually exist —
a stale citation means a guarantee silently lost its pin."""

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _doc():
    with open(os.path.join(REPO, "GUARANTEES.md")) as f:
        return f.read()


def test_cited_test_files_exist():
    cited = set(re.findall(r"`(test_\w+\.py)`", _doc()))
    assert cited, "matrix cites no test files?"
    missing = [t for t in cited if not os.path.exists(os.path.join(REPO, "tests", t))]
    assert not missing, f"GUARANTEES.md cites nonexistent test files: {missing}"


def test_cited_queries_are_declared():
    import sys

    sys.path.insert(0, REPO)
    import __spark_entry__ as e

    declared = set(e.queries())
    # `query <name>` and bare backticked names that look like query keys
    cited = set(re.findall(r"(?:query|queries)\s+`(\w+)`", _doc()))
    cited |= {
        m
        for m in re.findall(r"`(\w+)`\s*(?:\+\s*`(?:\w+)`\s*)?\((?:the\s+)?oracle", _doc())
    }
    cited |= set(re.findall(r"`(cdc_\w+|dedup_\w+|events_\w+|sketch_\w+)`", _doc())) & declared | (
        set(re.findall(r"`(cdc_\w+|dedup_\w+|events_\w+|sketch_\w+)`", _doc())) - declared
    )
    # anything that LOOKS like a declared-query citation must resolve
    looks_like = set(re.findall(r"`(\w+)` \(oracle\)", _doc()))
    looks_like |= set(re.findall(r"queries `(\w+)`", _doc()))
    looks_like |= set(re.findall(r"query `(\w+)`", _doc()))
    # bench-path functions (cdc_delivery_alo/eos, cdc_pipeline...) are
    # valid citations too — they live in bench.py, not queries()
    with open(os.path.join(REPO, "bench.py")) as f:
        bench_defs = set(re.findall(r"^def (\w+)", f.read(), re.M))
    unknown = sorted(
        q
        for q in (cited | looks_like)
        if q.startswith(("cdc_", "dedup_", "events_", "sketch_", "q_"))
        and q not in declared
        and q not in bench_defs
    )
    assert not unknown, f"GUARANTEES.md cites undeclared queries: {unknown}"


def test_cited_pgoutput_names_resolve():
    """A stale citation of a deleted pgoutput decoder or helper fails:
    every backticked ``decode_*`` / ``pgoutput_*`` name must exist in
    the pgoutput module."""
    from deltaforge_spark.sources import pgoutput

    cited = set(re.findall(r"`((?:decode|pgoutput)_\w+)`", _doc()))
    assert cited, "matrix cites no pgoutput names?"
    missing = sorted(n for n in cited if not hasattr(pgoutput, n))
    assert not missing, f"GUARANTEES.md cites names pgoutput does not define: {missing}"
