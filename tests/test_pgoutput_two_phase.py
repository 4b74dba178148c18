"""pgoutput two-phase commit (PG 15 ``two_phase`` slot option):
byte-pinned b/P/K/r/p vectors against the public message-format docs,
the prepared-transaction control table, and the decode pipeline's
decision gating (commit emits, rollback and pending never do)."""

import pytest
from check import storage_counts, storage_surplus

from deltaforge_spark.plans.lineage import pin_scope
from deltaforge_spark.sources.pgoutput import (
    PgoutputError,
    decode_pgoutput,
    encode_begin,
    encode_begin_prepare,
    encode_commit,
    encode_commit_prepared,
    encode_insert,
    encode_prepare,
    encode_relation,
    encode_rollback_prepared,
    encode_stream_prepare,
    parse_message,
    pgoutput_prepared_tx_table,
)

REL = 77
COLS = [("id", 20, -1, 1), ("name", 25, -1, 0)]


class TestByteVectors:
    def test_begin_prepare_layout(self):
        b = encode_begin_prepare(0x10, 0x20, 1_000_000, 9, "g1")
        assert b[:1] == b"b"
        assert b[1:9] == (0x10).to_bytes(8, "big")
        assert b[9:17] == (0x20).to_bytes(8, "big")
        assert b[17:25] == (1_000_000).to_bytes(8, "big")
        assert b[25:29] == (9).to_bytes(4, "big")
        assert b[29:] == b"g1\x00"
        m = parse_message(b)
        assert m == {
            "kind": "begin_prepare",
            "prepare_lsn": 0x10,
            "end_lsn": 0x20,
            "prepare_ts_us": 1_000_000,
            "xid": 9,
            "gid": "g1",
        }

    def test_prepare_layout_has_flags_byte(self):
        b = encode_prepare(0x10, 0x20, 5, 9, "g1")
        assert b[:2] == b"P\x00"
        m = parse_message(b)
        assert m["kind"] == "prepare" and m["gid"] == "g1" and m["xid"] == 9
        assert (m["prepare_lsn"], m["end_lsn"], m["prepare_ts_us"]) == (0x10, 0x20, 5)

    def test_commit_prepared_layout(self):
        b = encode_commit_prepared(0x30, 0x40, 7, 9, "g1")
        assert b[:2] == b"K\x00"
        m = parse_message(b)
        assert m["kind"] == "commit_prepared"
        assert (m["commit_lsn"], m["end_lsn"], m["commit_ts_us"], m["xid"], m["gid"]) == (
            0x30, 0x40, 7, 9, "g1",
        )

    def test_rollback_prepared_layout(self):
        b = encode_rollback_prepared(0x10, 0x50, 5, 6, 9, "g1")
        assert b[:2] == b"r\x00"
        m = parse_message(b)
        assert m["kind"] == "rollback_prepared"
        assert (
            m["prepare_end_lsn"], m["rollback_end_lsn"],
            m["prepare_ts_us"], m["rollback_ts_us"], m["xid"], m["gid"],
        ) == (0x10, 0x50, 5, 6, 9, "g1")

    def test_stream_prepare_layout(self):
        b = encode_stream_prepare(0x10, 0x20, 5, 9, "g2")
        assert b[:2] == b"p\x00"
        m = parse_message(b)
        assert m["kind"] == "stream_prepare" and m["gid"] == "g2"

    def test_truncated_messages_are_loud(self):
        with pytest.raises(PgoutputError, match="truncated"):
            parse_message(b"b" + b"\x00" * 10)
        with pytest.raises(PgoutputError, match="truncated"):
            parse_message(b"K\x00" + b"\x00" * 8)


def _df(spark, rows):
    return spark.createDataFrame(rows, "seq long, data binary")


def _capture(spark):
    """gid g10 prepared then COMMIT PREPARED; g20 prepared then
    ROLLBACK PREPARED; g30 prepared, decision outside the capture;
    xid 40 plain v1 — decisions arrive far from their prepares."""
    rows = [
        (0, encode_relation(REL, "public", "t", COLS)),
        # prepared tx 10
        (1, encode_begin_prepare(3, 4, 1_000_000, 10, "g10")),
        (2, encode_insert(REL, ["1", "a"])),
        (3, encode_prepare(3, 4, 1_000_000, 10, "g10")),
        # prepared tx 20 (interleaves)
        (4, encode_begin_prepare(6, 7, 2_000_000, 20, "g20")),
        (5, encode_insert(REL, ["2", "b"])),
        (6, encode_prepare(6, 7, 2_000_000, 20, "g20")),
        # prepared tx 30 — no decision in this capture
        (7, encode_begin_prepare(9, 10, 3_000_000, 30, "g30")),
        (8, encode_insert(REL, ["3", "c"])),
        (9, encode_prepare(9, 10, 3_000_000, 30, "g30")),
        # decisions arrive late, out of prepare order
        (10, encode_rollback_prepared(6, 11, 2_000_000, 2_500_000, 20, "g20")),
        (11, encode_commit_prepared(3, 12, 5_000_000, 10, "g10")),
        # plain v1 tx
        (12, encode_begin(14, 7_000_000, 40)),
        (13, encode_insert(REL, ["4", "d"])),
        (14, encode_commit(14, 15, 7_000_000)),
    ]
    return _df(spark, rows)


class TestPreparedAssembly:
    def test_prepared_tx_table_pairs_and_decides(self, spark):
        tab = {
            r["gid"]: (r["xid"], r["begin_seq"], r["prepare_seq"], r["outcome"], r["commit_ts_ms"])
            for r in pgoutput_prepared_tx_table(_capture(spark)).collect()
        }
        assert tab["g10"] == (10, 1, 3, "commit", 946684800000 + 5_000)
        assert tab["g20"] == (20, 4, 6, "rollback", None)
        assert tab["g30"] == (30, 7, 9, None, None)

    def test_streamed_two_phase_gates_on_commit_prepared(self, spark):
        """PG 15 streaming + two_phase combined: S…E fragments closed by
        Stream Prepare ('p'), decided by 'K'/'r' — rows emit only for
        the committed gid, through decode_pgoutput's streamed path."""
        from deltaforge_spark.sources.pgoutput import (
            encode_stream_abort,
            encode_stream_prepare,
            encode_stream_start,
            encode_stream_stop,
        )

        rows = [
            (0, encode_relation(REL, "public", "t", COLS)),
            # xid 10 streams, prepares, later commits
            (1, encode_stream_start(10, first_segment=True)),
            (2, encode_insert(REL, ["1", "a"], stream_xid=10)),
            (3, encode_stream_stop()),
            (4, encode_stream_prepare(0x10, 0x11, 1_000_000, 10, "sg10")),
            # xid 20 streams, prepares, later rolls back
            (5, encode_stream_start(20, first_segment=True)),
            (6, encode_insert(REL, ["2", "b"], stream_xid=20)),
            (7, encode_stream_stop()),
            (8, encode_stream_prepare(0x20, 0x21, 2_000_000, 20, "sg20")),
            # decisions
            (9, encode_commit_prepared(0x10, 0x12, 5_000_000, 10, "sg10")),
            (10, encode_rollback_prepared(0x20, 0x22, 2_000_000, 2_100_000, 20, "sg20")),
        ]
        dec = decode_pgoutput(_df(spark, rows))
        got = sorted((r["xid"], r["after"], r["commit_ts_ms"]) for r in dec.collect())
        assert got == [(10, '{"id": 1, "name": "a"}', 946684800000 + 5_000)]
        assert encode_stream_abort is not None

    def test_decode_gates_on_commit_prepared(self, spark):
        dec = decode_pgoutput(_capture(spark))
        got = sorted((r["xid"], r["gid"], r["after"], r["commit_ts_ms"]) for r in dec.collect())
        # g10 emits with the COMMIT PREPARED timestamp; g20 (rolled
        # back) and g30 (pending) never emit; xid 40 rides the v1 path
        assert got == [
            (10, "g10", '{"id": 1, "name": "a"}', 946684800000 + 5_000),
            (40, None, '{"id": 4, "name": "d"}', 946684800000 + 7_000),
        ]


class TestErrorPathReleasesPins:
    """A decode that raises after pinning its control rows releases the
    pin — and every pin taken after it — before the error propagates."""

    @pytest.mark.parametrize("prepared", [False, True], ids=["decode_plain", "decode_two_phase"])
    def test_malformed_relation_leaks_nothing(self, spark, prepared):
        rel = encode_relation(REL, "public", "t", COLS)
        with pytest.raises(PgoutputError, match="truncated"):
            parse_message(rel[:-3])
        rows = [
            (0, rel[:-3]),
            (1, encode_begin(14, 7_000_000, 40)),
            (2, encode_insert(REL, ["4", "d"])),
            (3, encode_commit(14, 15, 7_000_000)),
        ]
        if prepared:
            rows += [
                (4, encode_begin_prepare(6, 7, 1_000_000, 10, "g10")),
                (5, encode_insert(REL, ["1", "a"])),
                (6, encode_prepare(6, 7, 1_000_000, 10, "g10")),
            ]
        stream = _df(spark, rows)
        before = storage_counts(spark)
        with pytest.raises(Exception, match="truncated"):
            decode_pgoutput(stream)
        assert storage_surplus(spark, before) == (0, 0, 0)

    @pytest.mark.parametrize("payload", [None, b""], ids=["null", "empty"])
    def test_null_or_empty_payload_raises(self, spark, payload):
        """The JVM-side tag prefilters would drop these rows silently;
        the census counts them and the decode fails loudly."""
        stream = _df(spark, [
            (0, encode_relation(REL, "public", "t", COLS)),
            (1, encode_begin(3, 7_000_000, 40)),
            (2, payload),
            (3, encode_commit(3, 4, 7_000_000)),
        ])
        before = storage_counts(spark)
        with pytest.raises(PgoutputError, match="1 row.*NULL or empty"):
            decode_pgoutput(stream)
        assert storage_surplus(spark, before) == (0, 0, 0)

    @pytest.mark.parametrize("collect_max", [65536, 0], ids=["fast", "distributed"])
    def test_torn_stream_capture_leaks_nothing(self, spark, collect_max):
        """S, S, E: a block never closed before the next started. The
        distributed pairing raises after pinning its rank frames; those
        (reliable checkpoints) and the control pin must all be gone."""
        from deltaforge_spark.sources.pgoutput import (
            encode_stream_start,
            encode_stream_stop,
        )

        stream = _df(spark, [
            (0, encode_stream_start(1)),
            (1, encode_stream_start(2)),
            (2, encode_stream_stop()),
        ])
        before = storage_counts(spark)
        with pytest.raises(PgoutputError, match="never closed"):
            decode_pgoutput(stream, stream_block_collect_max=collect_max)
        assert storage_surplus(spark, before) == (0, 0, 0)

    def test_raise_after_dml_persist_under_scope_leaks_nothing(self, spark):
        """A plain and a streamed tx: the decoder persists the DML parse
        both branches read and returns. A caller raising after consuming
        it leaves nothing once its scope closes."""
        from deltaforge_spark.sources.pgoutput import (
            encode_stream_commit,
            encode_stream_start,
            encode_stream_stop,
        )

        stream = _df(spark, [
            (0, encode_relation(REL, "public", "t", COLS)),
            (1, encode_stream_start(10)),
            (2, encode_insert(REL, ["1", "a"], stream_xid=10)),
            (3, encode_stream_stop()),
            (4, encode_stream_commit(10, 0x10, 0x11, 5_000_000)),
            (5, encode_begin(14, 7_000_000, 40)),
            (6, encode_insert(REL, ["4", "d"])),
            (7, encode_commit(14, 15, 7_000_000)),
        ])
        before = storage_counts(spark)
        with pytest.raises(RuntimeError, match="consumer failed"):
            with pin_scope():
                assert decode_pgoutput(stream).count() == 2
                # the control pin and the DML persist back the result
                assert storage_surplus(spark, before)[:2] == (2, 2)
                raise RuntimeError("consumer failed")
        assert storage_surplus(spark, before) == (0, 0, 0)
