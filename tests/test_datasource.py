"""The binlog archive as a first-class Spark data source
(sources/datasource.py, PySpark 4 Python DataSource API): batch reads
partition per segment file and match `decode_binlog_segments` row for
row; streaming reads tail the directory with file-count offsets,
deliver each new segment exactly once per committed batch, and replay
an uncommitted range deterministically.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

import deltaforge_spark.sources.binlog as bl
from deltaforge_spark.sources.datasource import BinlogSegmentsDataSource


def _write_segment(path, rows, gno, xid, table_id=42):
    w = bl.SegmentWriter(server_id=11)
    w.append(bl.FORMAT_DESCRIPTION_EVENT, bl.fde_payload())
    w.append(bl.GTID_LOG_EVENT, bl.gtid_payload(bytes(16), gno))
    types, metas = [bl.MYSQL_TYPE_LONG, bl.MYSQL_TYPE_VARCHAR], [0, 32]
    w.append(
        bl.TABLE_MAP_EVENT,
        bl.table_map_payload(table_id, "db1", "t1", types, metas, [False, True]),
    )
    w.append(bl.WRITE_ROWS_EVENT, bl.rows_payload(table_id, 2, rows, types, metas))
    w.append(bl.XID_EVENT, bl.xid_payload(xid))
    with open(path, "wb") as f:
        f.write(w.bytes())


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(BinlogSegmentsDataSource)
    return spark


class TestBatchRead:
    def test_reads_all_segments_with_names(self, registered, tmp_path):
        d = str(tmp_path / "archive")
        os.makedirs(d)
        _write_segment(f"{d}/binlog.000001.binlog", [[1, "a"], [2, None]], gno=5, xid=900)
        _write_segment(f"{d}/binlog.000002.binlog", [[3, "c"]], gno=6, xid=901)
        df = (
            registered.read.format("binlog_segments")
            .option("path", d)
            .option("columns_json", json.dumps({"db1.t1": ["id", "name"]}))
            .load()
        )
        rows = sorted(df.collect(), key=lambda r: r["xid"])
        assert len(rows) == 3
        assert [json.loads(r["after"])["id"] for r in rows] == [1, 2, 3]
        assert [r["xid"] for r in rows] == [900, 900, 901]
        assert rows[0]["gno"] == 5 and rows[2]["gno"] == 6
        assert rows[0]["op"] == "c"

    def test_one_input_partition_per_segment(self, registered, tmp_path):
        d = str(tmp_path / "arch2")
        os.makedirs(d)
        for i in range(5):
            _write_segment(f"{d}/b{i:03d}.binlog", [[i, "x"]], gno=i + 1, xid=900 + i)
        df = registered.read.format("binlog_segments").option("path", d).load()
        assert df.rdd.getNumPartitions() == 5
        assert df.count() == 5

    def test_matches_decode_binlog_segments(self, registered, tmp_path, spark):
        d = str(tmp_path / "arch3")
        os.makedirs(d)
        _write_segment(f"{d}/a.binlog", [[7, "z"], [8, "y"]], gno=9, xid=955)
        via_ds = (
            registered.read.format("binlog_segments")
            .option("path", d)
            .option("columns_json", json.dumps({"db1.t1": ["id", "name"]}))
            .load()
            .select("op", "xid", "gno", "log_pos", "before", "after")
        )
        with open(f"{d}/a.binlog", "rb") as f:
            blob = f.read()
        segs = spark.createDataFrame([(blob,)], "data binary")
        via_fn = bl.decode_binlog_segments(
            segs, {("db1", "t1"): ["id", "name"]}
        ).select("op", "xid", "gno", "log_pos", "before", "after")
        assert sorted(map(tuple, via_ds.collect())) == sorted(map(tuple, via_fn.collect()))

    def test_empty_dir_is_empty_frame(self, registered, tmp_path):
        d = str(tmp_path / "empty")
        os.makedirs(d)
        df = registered.read.format("binlog_segments").option("path", d).load()
        assert df.count() == 0

    def test_filter_pushdown_compatible_projection(self, registered, tmp_path):
        # the source yields typed columns, so Catalyst filters/projects
        # compose on top (the point of being a real source, not a UDF)
        d = str(tmp_path / "arch4")
        os.makedirs(d)
        _write_segment(f"{d}/a.binlog", [[1, "a"]], gno=1, xid=900)
        _write_segment(f"{d}/b.binlog", [[2, "b"]], gno=2, xid=901)
        df = (
            registered.read.format("binlog_segments").option("path", d).load()
            .filter(F.col("xid") == 901)
            .select("db", "table", "xid")
        )
        assert [tuple(r) for r in df.collect()] == [("db1", "t1", 901)]


class TestPgoutputSpool:
    def test_spool_framing_feeds_decoder(self, spark, tmp_path):
        import deltaforge_spark.sources.pgoutput as pg
        from deltaforge_spark.sources.datasource import (
            PgoutputSpoolDataSource,
            write_spool,
        )

        spark.dataSource.register(PgoutputSpoolDataSource)
        d = str(tmp_path / "spool")
        os.makedirs(d)
        rel = pg.encode_relation(7, "public", "t", [("id", 20, -1, 1), ("v", 25, -1, 0)])
        msgs1 = [rel, pg.encode_begin(1050, 7, 41), pg.encode_insert(7, ["1", "a"])]
        msgs2 = [pg.encode_insert(7, ["2", "b"]), pg.encode_commit(1050, 1060, 7)]
        write_spool(f"{d}/000001.pgout", msgs1)
        write_spool(f"{d}/000002.pgout", msgs2)

        raw = spark.read.format("pgoutput_spool").option("path", d).load()
        assert raw.count() == 5
        assert raw.rdd.getNumPartitions() == 2
        # seq preserves capture order across files
        rows = sorted(raw.collect(), key=lambda r: r["seq"])
        assert [r["file"] for r in rows] == ["000001.pgout"] * 3 + ["000002.pgout"] * 2

        # the raw frames feed the existing decoder unchanged (the 'R'
        # message in the spool carries the relation catalog)
        decoded = pg.decode_pgoutput(raw.select("seq", "data"))
        rows2 = decoded.orderBy("seq").collect()
        assert [r["op"] for r in rows2] == ["c", "c"]
        assert json.loads(rows2[0]["after"]) == {"id": 1, "v": "a"}  # oid 20 → int
        assert rows2[0]["xid"] == 41  # tx stamping across both files

    def test_spool_streams_new_files(self, spark, tmp_path):
        import deltaforge_spark.sources.pgoutput as pg
        from deltaforge_spark.sources.datasource import (
            PgoutputSpoolDataSource,
            write_spool,
        )

        spark.dataSource.register(PgoutputSpoolDataSource)
        src = str(tmp_path / "wal")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ck")
        os.makedirs(src)
        write_spool(f"{src}/000001.pgout", [pg.encode_begin(10, 1, 1), pg.encode_commit(10, 20, 1)])

        def run_once():
            q = (
                spark.readStream.format("pgoutput_spool").option("path", src).load()
                .writeStream.format("parquet")
                .option("path", out).option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)

        run_once()
        assert spark.read.parquet(out).count() == 2
        write_spool(f"{src}/000002.pgout", [pg.encode_begin(30, 2, 2)])
        run_once()
        got = spark.read.parquet(out)
        assert got.count() == 3
        assert got.filter(F.col("file") == "000002.pgout").count() == 1

    def test_truncated_spool_is_loud(self, spark, tmp_path):
        from deltaforge_spark.sources.datasource import PgoutputSpoolDataSource

        spark.dataSource.register(PgoutputSpoolDataSource)
        d = str(tmp_path / "badspool")
        os.makedirs(d)
        with open(f"{d}/x.pgout", "wb") as f:
            f.write((100).to_bytes(4, "big") + b"short")
        df = spark.read.format("pgoutput_spool").option("path", d).load()
        with pytest.raises(Exception, match="truncated message"):
            df.collect()


class TestStreamRead:
    def test_microbatches_follow_new_segments(self, registered, tmp_path):
        src = str(tmp_path / "stream")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)
        _write_segment(f"{src}/b1.binlog", [[1, "a"]], gno=1, xid=900)

        q = (
            registered.readStream.format("binlog_segments")
            .option("path", src)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got1 = registered.read.parquet(out)
        assert got1.count() == 1

        # new segment arrives: next run picks up ONLY the new file
        _write_segment(f"{src}/b2.binlog", [[2, "b"], [3, "c"]], gno=2, xid=901)
        q = (
            registered.readStream.format("binlog_segments")
            .option("path", src)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got2 = registered.read.parquet(out)
        assert got2.count() == 3
        assert got2.filter(F.col("xid") == 901).count() == 2


class TestOffsetHardening:
    """VERDICT r5 #9: file-count offsets are only meaningful while the
    sorted prefix under them is immutable — deletion, compaction, or
    rename between micro-batches must fail the stream LOUDLY, never
    silently skip or remap data. Runs over ``binlog_segments`` here and
    ``pgoutput_spool`` in the subclass below: one stream reader serves
    both."""

    suffix = ".binlog"

    def _reader(self, src):
        return BinlogSegmentsDataSource({"path": src}).simpleStreamReader(None)

    def _write(self, path, i):
        # file #i: one row-bearing unit, whatever the format
        _write_segment(path, [[i, "x"]], gno=i, xid=899 + i)

    def test_deleted_segment_under_checkpoint_is_loud(self, tmp_path):
        from deltaforge_spark.sources.datasource import SegmentStoreChangedError

        sfx = self.suffix
        src = str(tmp_path / "s")
        os.makedirs(src)
        self._write(f"{src}/b1{sfx}", 1)
        self._write(f"{src}/b2{sfx}", 2)
        r = self._reader(src)
        rows, off = r.read(r.initialOffset())
        assert off["files"] == 2 and off["last"] == f"b2{sfx}"
        assert len(list(rows)) == 2
        os.remove(f"{src}/b2{sfx}")  # compaction/cleanup under the offset
        with pytest.raises(SegmentStoreChangedError, match="deleted/compacted"):
            r.read(off)

    def test_renamed_prefix_under_checkpoint_is_loud(self, tmp_path):
        from deltaforge_spark.sources.datasource import SegmentStoreChangedError

        sfx = self.suffix
        src = str(tmp_path / "s")
        os.makedirs(src)
        self._write(f"{src}/b1{sfx}", 1)
        r = self._reader(src)
        _rows, off = r.read(r.initialOffset())
        # rewrite: same count, different name → same-count remap
        os.rename(f"{src}/b1{sfx}", f"{src}/a0{sfx}")
        with pytest.raises(SegmentStoreChangedError, match="prefix"):
            r.read(off)

    def test_replay_range_checks_end_offset(self, tmp_path):
        from deltaforge_spark.sources.datasource import SegmentStoreChangedError

        sfx = self.suffix
        src = str(tmp_path / "s")
        os.makedirs(src)
        self._write(f"{src}/b1{sfx}", 1)
        r = self._reader(src)
        _rows, off = r.read(r.initialOffset())
        os.remove(f"{src}/b1{sfx}")
        with pytest.raises(SegmentStoreChangedError):
            r.readBetweenOffsets(r.initialOffset(), off)

    def test_intact_store_still_tails(self, tmp_path):
        sfx = self.suffix
        src = str(tmp_path / "s")
        os.makedirs(src)
        self._write(f"{src}/b1{sfx}", 1)
        r = self._reader(src)
        _rows, off = r.read(r.initialOffset())
        self._write(f"{src}/b2{sfx}", 2)
        rows, off2 = r.read(off)
        assert len(list(rows)) == 1 and off2["files"] == 2

    def test_legacy_offset_without_name_still_accepted(self, tmp_path):
        """Checkpoints written before the name field lack 'last' —
        count-only offsets keep working (no forced re-snapshot)."""
        sfx = self.suffix
        src = str(tmp_path / "s")
        os.makedirs(src)
        self._write(f"{src}/b1{sfx}", 1)
        self._write(f"{src}/b2{sfx}", 2)
        r = self._reader(src)
        rows, off = r.read({"files": 1})
        assert len(list(rows)) == 1 and off["files"] == 2


class TestSpoolOffsetHardening(TestOffsetHardening):
    suffix = ".pgout"

    def _reader(self, src):
        from deltaforge_spark.sources.datasource import PgoutputSpoolDataSource

        return PgoutputSpoolDataSource({"path": src}).simpleStreamReader(None)

    def _write(self, path, i):
        from deltaforge_spark.sources.datasource import write_spool

        write_spool(path, [f"m{i}".encode()])

    def test_resumed_stream_numbers_seq_like_batch(self, spark, tmp_path):
        """A stream resumed at files=1 gives the second file's messages
        the seq values a batch read gives them (``1 << 32`` onward), so
        the tx stamping downstream sees one numbering on every path."""
        from deltaforge_spark.sources.datasource import (
            PgoutputSpoolDataSource,
            write_spool,
        )

        src = str(tmp_path / "w")
        os.makedirs(src)
        write_spool(f"{src}/w1.pgout", [b"a1", b"a2"])
        write_spool(f"{src}/w2.pgout", [b"b1", b"b2", b"b3"])
        spark.dataSource.register(PgoutputSpoolDataSource)
        batch = {
            (r["file"], r["seq"])
            for r in spark.read.format("pgoutput_spool").option("path", src).load().collect()
        }
        r = self._reader(src)
        _rows, first = r.read(r.initialOffset())
        resumed = [(f, seq) for f, seq, _ in r.read({"files": 1, "last": "w1.pgout"})[0]]
        assert [seq for _, seq in resumed] == [1 << 32, (1 << 32) + 1, (1 << 32) + 2]
        assert set(resumed) == {x for x in batch if x[0] == "w2.pgout"}
        replayed = [(f, seq) for f, seq, _ in r.readBetweenOffsets({"files": 1}, first)]
        assert replayed == resumed


class TestTriggerWithoutNewFiles:
    """A trigger that finds no new file must complete with zero rows:
    PySpark calls next() on what read() returned when the offset did
    not advance, so the readers return iterators, not lists."""

    @pytest.mark.parametrize("fmt", ["binlog_segments", "pgoutput_spool"])
    def test_second_trigger_reads_zero_rows(self, spark, tmp_path, fmt):
        import deltaforge_spark.sources.pgoutput as pg
        from deltaforge_spark.sources.datasource import PgoutputSpoolDataSource, write_spool

        spark.dataSource.register(BinlogSegmentsDataSource)
        spark.dataSource.register(PgoutputSpoolDataSource)
        src, out, ckpt = (str(tmp_path / n) for n in ("src", "out", "ckpt"))
        os.makedirs(src)
        if fmt == "binlog_segments":
            _write_segment(f"{src}/b1.binlog", [[1, "a"], [2, "b"]], gno=1, xid=900)
        else:
            write_spool(f"{src}/000001.pgout", [pg.encode_begin(10, 1, 1), pg.encode_commit(10, 20, 1)])

        def trigger():
            q = (
                spark.readStream.format(fmt).option("path", src).load()
                .writeStream.format("parquet")
                .option("path", out).option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)
            assert q.exception() is None
            return sum(p["numInputRows"] for p in q.recentProgress)

        assert trigger() == 2
        assert trigger() == 0
        assert spark.read.parquet(out).count() == 2
