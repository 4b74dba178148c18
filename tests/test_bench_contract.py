"""Bench ↔ declared-surface contract (VERDICT r5 #7): every bench
HEADLINE kernel name must be a declared query (so a timed number always
has a correctness row behind it), the trend kernels must be either
declared queries or known synthetic bench feeds, and the driver-checked
first-50 prefix contains the queries that still need a driver row."""

import sys

sys.path.insert(0, "/root/repo")


def _entry():
    import __spark_entry__ as e

    return e


def _bench():
    import bench

    return bench


# bench-only synthetic kernels: wire/delivery feeds that exist to time
# the decode/delivery path, not oracle-checkable queries (documented in
# QUERIES.md "What the bench times")
SYNTHETIC_KERNELS = {
    "cdc_pipeline",
    "cdc_pipeline_xl",
    "cdc_binlog_decode_staged",
    "cdc_binlog_decode_staged_xl",
    "cdc_pgoutput_decode_staged",
    "cdc_pgoutput_two_phase_staged",
    "cdc_delivery_kafka_wire",
    "cdc_delivery_kafka_wire_drain",
    "cdc_delivery_alo",
    "cdc_delivery_eos",
}


class TestBenchContract:
    def test_headline_subset_of_declared_queries(self):
        qs = _entry().queries()
        missing = [n for n in _bench().HEADLINE if n not in qs]
        assert missing == [], f"bench HEADLINE times undeclared names: {missing}"

    def test_headline_has_no_duplicates(self):
        hl = _bench().HEADLINE
        assert len(hl) == len(set(hl))

    def test_trend_kernels_are_declared_or_synthetic(self):
        qs = _entry().queries()
        unknown = [
            n for n in _bench().TREND_KERNELS
            if n not in qs and n not in SYNTHETIC_KERNELS
        ]
        assert unknown == [], f"trend kernels neither declared nor synthetic: {unknown}"

    def test_every_query_has_an_oracle(self):
        e = _entry()
        qs, osql = e.queries(), e.oracle_sql()
        assert sorted(set(qs) - set(osql)) == []
        assert sorted(set(osql) - set(qs)) == []

    def test_driver_prefix_contains_never_sampled_queries(self):
        """Queries without any driver row yet — or whose OUTPUT changed
        since their last row — must sit in the first-50 prefix the
        driver verifies (r5 #2 generalized; r7 gave the r7 batch its
        rows; r8 leads with the two_phase query and the three queries
        whose output/synth changed this round)."""
        names = list(_entry().queries())
        for name in PREFIX_REQUIRED:
            assert name in names[:50], name

    def test_queries_md_in_sync(self):
        """QUERIES.md regenerates from the declared surface — a stale
        count means someone added a query without running the doc
        generator."""
        qs = _entry().queries()
        head = open("/root/repo/QUERIES.md").read(400)
        assert f"{len(qs)} queries" in head


#: prefix policy (round-agnostic name — ADVICE r12): new this round, or
#: code/oracle changed this round
#: (their old driver rows no longer describe the current code)
PREFIX_REQUIRED = [
    "doc_dsir_weights",          # new (r13: DSIR importance weights)
    "doc_dsir_select",           # new (r13: DSIR Gumbel top-k resample)
    "doc_quality_classifier",    # new (r13: trained quality classifier)
    "similarity_hybrid_rrf",     # new (r13: hybrid retrieval RRF fusion)
    "dedup_containment_lsh",     # new (r13: LSH-estimated containment)
    "dedup_containment",         # new (r13: Broder containment pairs)
    "doc_perplexity_kn5",        # new (r13: 5-gram modified Kneser-Ney)
    "doc_perplexity_bins",       # integer-DIV bucket arithmetic (r13)
    "text_bpe_roundtrip",        # chunked apply (r13)
]


def test_every_new_or_changed_query_is_in_driver_prefix():
    """Never-driver-sampled (or output-changed) queries must sit in the
    first-50 prefix the driver verifies; queries displaced past 50 must
    all have a green CORRECTNESS row from an earlier round (checked by
    name against the recorded artifacts)."""
    import json
    import os

    names = list(_entry().queries())
    for n in PREFIX_REQUIRED:
        assert names.index(n) < 50, f"{n} at {names.index(n)} — not driver-visible"
    import glob

    prior_green = set()
    for p in sorted(glob.glob("/root/repo/CORRECTNESS_r*.json")):
        if os.path.exists(p):
            rows = json.load(open(p))
            prior_green |= {
                k for k, v in rows.items()
                if v.get("hash_match") or (v.get("rows_match") and v.get("err") is None)
            }
    for n in names[50:]:
        assert n in prior_green, f"{n} displaced past 50 with no prior driver row"


class TestQuietWindowGate:
    """VERDICT r12 #1: official bench rows must carry quiet-window
    provenance — a loaded-window run is flagged non_canonical, never
    silently recorded as the round's capability."""

    def test_threshold_pinned(self):
        assert _bench().QUIET_LOADAVG_MAX == 2.0

    def test_quiet_predicate(self):
        b = _bench()
        assert b._quiet(0.28) and b._quiet(2.0)
        assert not b._quiet(2.01)
        assert not b._quiet(20.14)  # the r12 snapshot window
        assert not b._quiet(None)   # unknown = not verified-quiet

    def test_trend_line_carries_non_canonical_flag(self, monkeypatch, tmp_path):
        import json
        import os

        b = _bench()
        target = str(tmp_path / "BENCH_TREND.jsonl")
        orig_join = os.path.join
        monkeypatch.setattr(
            b.os.path,
            "join",
            lambda *a: target if a[-1] == "BENCH_TREND.jsonl" else orig_join(*a),
        )
        monkeypatch.setattr(b, "_LOADAVG_START", 20.14)
        b._append_trend({"sf": "0.1", "events_per_sec": 1,
                         "events_per_sec_steady": 1, "queries": {}, "passes": {}})
        monkeypatch.setattr(b, "_LOADAVG_START", 0.28)
        b._append_trend({"sf": "0.1", "events_per_sec": 1,
                         "events_per_sec_steady": 1, "queries": {}, "passes": {}})
        rows = [json.loads(l) for l in open(target)]
        assert rows[0]["non_canonical"] is True
        assert rows[1]["non_canonical"] is False

    def test_merge_counts_quiet_runs(self):
        """_merge_round_best returns (merged, quiet) so the closing
        line can assert at least one verified-quiet run backs the
        minima."""
        import inspect

        b = _bench()
        sig = inspect.signature(b._merge_round_best)
        assert sig.return_annotation == "tuple[int, int]"


class TestGateLineContract:
    """VERDICT r13 #1: the driver parses ONLY the final stdout line and
    keeps only the last ~2,000 chars — the per-query ``queries`` dict
    must survive on that line even with every optional block (sf1 soak
    summary, 8 agreement gates) at its realistic size."""

    def _realistic_gate(self):
        # shaped like the r13 closing line that overflowed (check_all
        # prose + per-gate lists), with every TREND kernel timed
        return {
            "metric": "headline_suite_seconds", "value": 134.759,
            "unit": "sec", "sf": "0.1",
            "events_per_sec": 176991, "events_per_sec_steady": 3280840,
            "binlog_decode_events_per_sec": 144928,
            "binlog_decode_events_per_sec_steady": 186359,
            "pgoutput_decode_events_per_sec": 77160,
            "kafka_wire_events_per_sec": 92593,
            "kafka_wire_drain_events_per_sec": 190840,
            "eos_overhead_pct": 3.8, "eos_overhead_iqr_pct": 25.2,
            "eos_overhead_upper_pct": 17.7, "eos_noise_limited": True,
            "eos_pairs": 12, "n_events": 100000, "n_queries": 80,
            "gates_agreed": {
                f"cdc_gate_kernel_name_{i}": [True, 9 + i] for i in range(8)
            },
            "round_runs_merged": 2, "loadavg_start": 4.66,
            "quiet_runs": 2, "non_canonical": False,
            "sf1": {
                "check_all": "170/170 at sf1 " + "x" * 500,
                "events_per_sec": 1071811,
                "binlog_decode_events_per_sec": 315159,
                "kafka_wire_events_per_sec": 488998,
                "kernels_measured": 42,
                "worst_ratio": ["dedup_embedding_lsh", 27.71],
            },
        }

    def test_queries_survive_on_final_line(self):
        import json

        b = _bench()
        timings = {k: 12.345 for k in b.TREND_KERNELS}
        line = b._gate_line(self._realistic_gate(), timings)
        assert len(line) <= 1800
        parsed = json.loads(line)
        assert parsed["queries"] == timings, "per-query dict stripped"
        assert parsed["gates_agreed_ok"] is True
        assert parsed["gates_agreed_n"] == [8, 8]
        assert "check_all" not in parsed.get("sf1", {})

    def test_original_gate_not_mutated(self):
        b = _bench()
        gate = self._realistic_gate()
        b._gate_line(gate, {k: 1.0 for k in b.TREND_KERNELS})
        assert "gates_agreed" in gate and "check_all" in gate["sf1"]

    def test_scalar_and_empty_agreement_entries(self):
        import json

        b = _bench()
        gate = self._realistic_gate()
        gate["gates_agreed"] = {"pair": [True, 9], "scalar": True, "empty": []}
        parsed = json.loads(b._gate_line(gate, {}))
        assert parsed["gates_agreed_ok"] is False
        assert parsed["gates_agreed_n"] == [2, 3]


class TestCpusAwareMerge:
    """VERDICT r13 #2: the round-best merge must condition on the core
    count — the r13 8-core probe reported 32-core minima because trend
    rows carried no cpus field."""

    def _with_trend(self, monkeypatch, tmp_path, rows):
        import json
        import os

        b = _bench()
        target = str(tmp_path / "BENCH_TREND.jsonl")
        with open(target, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        orig_join = os.path.join
        monkeypatch.setattr(
            b.os.path,
            "join",
            lambda *a: target if a[-1] == "BENCH_TREND.jsonl" else orig_join(*a),
        )
        monkeypatch.setattr(b, "_code_equivalent_heads", lambda: {"abc1234"})
        return b

    def test_trend_line_records_cpus(self, monkeypatch, tmp_path):
        import json
        import os

        b = _bench()
        target = str(tmp_path / "BENCH_TREND.jsonl")
        orig_join = os.path.join
        monkeypatch.setattr(
            b.os.path,
            "join",
            lambda *a: target if a[-1] == "BENCH_TREND.jsonl" else orig_join(*a),
        )
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
        b._append_trend({"sf": "0.1", "events_per_sec": 1,
                         "events_per_sec_steady": 1, "queries": {}, "passes": {}})
        row = json.loads(open(target).readline())
        assert row["cpus"] == 8

    def test_low_core_run_ignores_32core_minima(self, monkeypatch, tmp_path):
        b = self._with_trend(
            monkeypatch, tmp_path,
            [{"git": "abc1234", "sf": "0.1", "loadavg_start": 0.1,
              "kernels": {"cdc_pipeline": 0.1}, "passes": {"cdc_pipeline": 4}}],
        )
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
        timings = {"cdc_pipeline": 2.0}
        merged, _ = b._merge_round_best(timings, {"cdc_pipeline": 1})
        assert merged == 0 and timings["cdc_pipeline"] == 2.0

    def test_same_core_rows_still_merge(self, monkeypatch, tmp_path):
        b = self._with_trend(
            monkeypatch, tmp_path,
            [{"git": "abc1234", "sf": "0.1", "cpus": 32, "loadavg_start": 0.1,
              "kernels": {"cdc_pipeline": 0.1}, "passes": {"cdc_pipeline": 4}},
             # legacy row without cpus = canonical 32-core by convention
             {"git": "abc1234", "sf": "0.1", "loadavg_start": 0.2,
              "kernels": {"cdc_pipeline": 0.09}, "passes": {"cdc_pipeline": 2}}],
        )
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
        timings = {"cdc_pipeline": 2.0}
        merged, quiet = b._merge_round_best(timings, {"cdc_pipeline": 1})
        assert merged == 2 and timings["cdc_pipeline"] == 0.09 and quiet == 2
