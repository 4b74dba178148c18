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
    """A stale citation of a deleted decoder, framer or fixture fails:
    every backticked ``decode_*`` / ``pgoutput_*`` name in GUARANTEES.md
    must exist in the pgoutput module, and every backticked binlog or
    fixture name in GUARANTEES.md and COVERAGE.md (``parse_segment``,
    ``BinlogTailer``, ``synth_*``, anything named after the binlog) in
    the binlog side of the sources package. Query names (``cdc_*``) are
    checked by test_cited_queries_are_declared."""
    from deltaforge_spark.sources import (
        binlog,
        datasource,
        fixtures,
        gtid,
        pgoutput,
        tailloop,
    )

    cited = set(re.findall(r"`((?:decode|pgoutput)_\w+)`", _doc()))
    cited = {n for n in cited if "binlog" not in n}
    assert cited, "matrix cites no pgoutput names?"
    missing = sorted(n for n in cited if not hasattr(pgoutput, n))
    assert not missing, f"GUARANTEES.md cites names pgoutput does not define: {missing}"

    with open(os.path.join(REPO, "COVERAGE.md")) as f:
        docs = _doc() + f.read()
    binlog_like = r"(?i:\w*binlog\w*)|parse_segment|segment_rows|Mysql\w+|synth_\w+"
    cited = {n for n in re.findall(rf"`({binlog_like})`", docs) if not n.startswith("cdc_")}
    assert {"parse_segment", "BinlogTailer", "decode_binlog_segments"} <= cited
    # the binlog codec and its fixtures, plus the modules that hold its
    # position (gtid), tail loop (tailloop) and archive source, whose
    # format name is a citation too
    owners = (binlog, fixtures, gtid, tailloop, datasource)
    cited.discard(datasource.BinlogSegmentsDataSource.name())
    missing = sorted(n for n in cited if not any(hasattr(m, n) for m in owners))
    assert not missing, f"docs cite binlog names the sources do not define: {missing}"
