"""Incremental binlog tail — the connection-shaped seam (VERDICT r4
Next-round #5): one decode path must yield IDENTICAL events whether the
stream arrives as a whole segment (`parse_segment`) or as arbitrary
byte slices over time (`BinlogTailer.feed`), with a resumable
(file, committed-pos, gtid-set) checkpoint at every XID boundary —
reference mysql/mod.rs:386-423 semantics.
"""

import json

import pytest

import deltaforge_spark.sources.binlog as bl
from deltaforge_spark.sources.gtid import GtidSet


def _segment(rows=((1, "a"), (2, None)), gno=5, xid=900, server_id=11):
    w = bl.SegmentWriter(server_id=server_id)
    w.append(bl.FORMAT_DESCRIPTION_EVENT, bl.fde_payload())
    w.append(bl.GTID_LOG_EVENT, bl.gtid_payload(bytes(16), gno))
    w.append(bl.QUERY_EVENT, bl.query_payload("db1", "BEGIN"))
    types = [bl.MYSQL_TYPE_LONG, bl.MYSQL_TYPE_VARCHAR]
    metas = [0, 32]
    w.append(bl.TABLE_MAP_EVENT, bl.table_map_payload(42, "db1", "t1", types, metas, [False, True]))
    w.append(bl.WRITE_ROWS_EVENT, bl.rows_payload(42, 2, [list(r) for r in rows], types, metas))
    w.append(bl.XID_EVENT, bl.xid_payload(xid))
    return w.bytes()


def _strip_volatile(events):
    # identical decode = identical dicts; nothing is volatile, compare raw
    return events


@pytest.mark.parametrize("chunk_size", [1, 3, 7, 23, 64, 10_000])
def test_chunked_feed_equals_whole_segment(chunk_size):
    data = _segment()
    whole = bl.parse_segment(data, {("db1", "t1"): ["id", "name"]})
    t = bl.BinlogTailer({("db1", "t1"): ["id", "name"]})
    streamed = []
    for i in range(0, len(data), chunk_size):
        streamed.extend(t.feed(data[i : i + chunk_size]))
    assert _strip_volatile(streamed) == _strip_volatile(whole)


def test_mid_header_and_mid_crc_cuts():
    data = _segment()
    # cut INSIDE the first event header and INSIDE the last event's CRC
    cuts = [0, 4 + 7, len(data) - 2, len(data)]
    t = bl.BinlogTailer()
    out = []
    for a, b in zip(cuts, cuts[1:]):
        out.extend(t.feed(data[a:b]))
    assert [e["kind"] for e in out] == ["fde", "gtid", "query", "table_map", "rows", "xid"]


def test_xid_stamps_rows_across_chunk_boundary():
    data = _segment(xid=777)
    t = bl.BinlogTailer()
    # feed everything except the final XID event, then the XID alone
    import struct

    off = len(bl.MAGIC)
    events_bounds = []
    while off < len(data):
        size = struct.unpack_from("<IBIIIH", data, off)[3]
        events_bounds.append((off, off + size))
        off += size
    head = data[: events_bounds[-1][0]]
    first = t.feed(head)
    rows_ev = next(e for e in first if e["kind"] == "rows")
    assert "xid" not in rows_ev or rows_ev.get("xid") is None
    t.feed(data[events_bounds[-1][0] :])
    # the tx bracket stamps the SAME dict object delivered earlier
    assert rows_ev["xid"] == 777


def test_checkpoint_advances_only_on_commit():
    data = _segment(gno=9)
    t = bl.BinlogTailer(file="binlog.000001")
    # feed up to (but not including) the XID: position must not move
    import struct

    off = len(bl.MAGIC)
    bounds = []
    while off < len(data):
        size = struct.unpack_from("<IBIIIH", data, off)[3]
        bounds.append((off, off + size))
        off += size
    t.feed(data[: bounds[-1][0]])
    cp_before = json.loads(t.checkpoint())
    assert cp_before["pos"] == 0  # mid-transaction: not resumable here
    assert t.position.in_transaction
    t.feed(data[bounds[-1][0] :])
    cp = json.loads(t.checkpoint())
    assert cp["pos"] == len(data)  # XID log_pos == end of segment
    assert not t.position.in_transaction
    assert GtidSet.parse(cp["gtid_set"]).contains(bytes(16).hex(), 9)


def test_gtid_set_accumulates_across_transactions():
    t = bl.BinlogTailer()
    t.feed(_segment(gno=3))
    # second file: new magic (simulates a re-opened stream after rotate)
    t2_data = _segment(gno=4)
    t._need_magic = True  # direct arm: next bytes are a fresh file
    t._table_map = {}
    t.feed(t2_data)
    s = GtidSet.parse(json.loads(t.checkpoint())["gtid_set"])
    assert s.contains(bytes(16).hex(), 3) and s.contains(bytes(16).hex(), 4)


def test_rotate_arms_next_file_magic():
    w = bl.SegmentWriter(server_id=1)
    w.append(bl.FORMAT_DESCRIPTION_EVENT, bl.fde_payload())
    w.append(bl.ROTATE_EVENT, bl.rotate_payload(4, "binlog.000002"))
    file1 = w.bytes()
    file2 = _segment(gno=12)
    t = bl.BinlogTailer(file="binlog.000001")
    evs = t.feed(file1 + file2)
    kinds = [e["kind"] for e in evs]
    assert kinds[:2] == ["fde", "rotate"]
    assert "rows" in kinds  # second file decoded after re-arm
    cp = json.loads(t.checkpoint())
    assert cp["file"] == "binlog.000002"


def test_corrupt_crc_is_loud_in_stream():
    data = bytearray(_segment())
    data[40] ^= 0xFF
    t = bl.BinlogTailer()
    with pytest.raises(bl.BinlogError, match="crc|drift|truncat"):
        # feed byte-by-byte: the error must fire exactly when the
        # corrupt frame completes, not silently skip
        for i in range(len(data)):
            t.feed(bytes(data[i : i + 1]))


def test_tailer_matches_parse_segment_on_random_boundaries():
    import random

    rng = random.Random(1234)
    data = _segment(rows=tuple((i, f"v{i}") for i in range(50)), gno=77)
    whole = bl.parse_segment(data)
    for _trial in range(10):
        t = bl.BinlogTailer()
        out, i = [], 0
        while i < len(data):
            j = min(len(data), i + rng.randint(1, 37))
            out.extend(t.feed(data[i:j]))
            i = j
        assert out == whole


class TestCompiledDecoders:
    """r14: per-column decoders compile once per TABLE_MAP schema
    (dispatch/metadata/length-mode hoisted out of the per-value loop).
    They must be byte-for-byte decode_value, for every supported type."""

    # (col_type, meta, value) matrix — one representative per dispatch
    # branch of decode_value, including both varchar length modes and
    # the STRING/ENUM/SET packing
    MATRIX = [
        (bl.MYSQL_TYPE_LONGLONG, 0, -(2**62) + 7),
        (bl.MYSQL_TYPE_DOUBLE, 0, -1234.5),
        (bl.MYSQL_TYPE_LONG, 0, -2**31 + 1),
        (bl.MYSQL_TYPE_TINY, 0, -5),
        (bl.MYSQL_TYPE_SHORT, 0, -12345),
        (bl.MYSQL_TYPE_INT24, 0, -(2**23) + 9),
        (bl.MYSQL_TYPE_FLOAT, 0, 2.5),
        (bl.MYSQL_TYPE_YEAR, 0, 2031),
        (bl.MYSQL_TYPE_DATE, 0, "2031-03-04"),
        (bl.MYSQL_TYPE_DATETIME2, 6, 1_900_000_000_123_456),
        (bl.MYSQL_TYPE_TIMESTAMP2, 0, 1_900_000_000_000_000),
        (bl.MYSQL_TYPE_TIME2, 0, "13:14:15"),
        (bl.MYSQL_TYPE_VARCHAR, 32, "héllo"),
        (bl.MYSQL_TYPE_VARCHAR, 300, "x" * 280),
        (bl.MYSQL_TYPE_NEWDECIMAL, (12 << 8) | 4, "-12345678.9012"),
        (bl.MYSQL_TYPE_BLOB, 2, "blob-text"),
        (bl.MYSQL_TYPE_STRING, (bl.MYSQL_TYPE_STRING << 16) | 10, "char"),
        (bl.MYSQL_TYPE_STRING, (bl.MYSQL_TYPE_ENUM << 16) | 1, 3),
    ]

    def test_matches_decode_value_for_every_type(self):
        for t, m, v in self.MATRIX:
            buf = bl.encode_value(t, m, v) + b"\xff\xff"  # trailing noise
            want = bl.decode_value(t, m, buf, 0)
            got = bl._compile_decoder(t, m)(buf, 0)
            assert got == want, (t, m, v)

    def test_decoder_cache_reuses_compiled_lists(self):
        types = [bl.MYSQL_TYPE_LONG, bl.MYSQL_TYPE_VARCHAR]
        metas = [0, 32]
        d1 = bl._decoders_for(types, metas)
        d2 = bl._decoders_for(list(types), list(metas))
        assert d1 is d2

    def test_repeated_table_maps_parse_once_and_decode_identically(self):
        """Two transactions re-announce the same TABLE_MAP (as the
        server does); the cached parse must yield identical events to
        a fresh module state."""
        types = [bl.MYSQL_TYPE_LONG, bl.MYSQL_TYPE_VARCHAR]
        metas = [0, 32]
        w = bl.SegmentWriter(server_id=3)
        w.append(bl.FORMAT_DESCRIPTION_EVENT, bl.fde_payload())
        for xid, rows in ((1, [[1, "a"]]), (2, [[2, None]])):
            w.append(bl.TABLE_MAP_EVENT,
                     bl.table_map_payload(42, "db1", "t1", types, metas, [False, True]))
            w.append(bl.WRITE_ROWS_EVENT,
                     bl.rows_payload(42, 2, rows, types, metas))
            w.append(bl.XID_EVENT, bl.xid_payload(xid))
        data = w.bytes()
        first = bl.parse_segment(data, {("db1", "t1"): ["id", "name"]})
        bl._TM_PAYLOAD_CACHE.clear()
        bl._DECODER_CACHE.clear()
        fresh = bl.parse_segment(data, {("db1", "t1"): ["id", "name"]})
        assert first == fresh
        assert len(bl._TM_PAYLOAD_CACHE) == 1  # one distinct payload

    def test_emitted_table_map_edit_cannot_reach_a_later_decode(self):
        """The TABLE_MAP cache shares one parsed entry across segments:
        a consumer editing an emitted table_map event must not change a
        second decode of the same segment."""
        import contextlib
        import copy

        types = [bl.MYSQL_TYPE_LONG, bl.MYSQL_TYPE_VARCHAR]
        metas = [0, 32]
        w = bl.SegmentWriter(server_id=3)
        w.append(bl.FORMAT_DESCRIPTION_EVENT, bl.fde_payload())
        w.append(bl.TABLE_MAP_EVENT,
                 bl.table_map_payload(43, "db1", "t2", types, metas, [False, True]))
        w.append(bl.WRITE_ROWS_EVENT, bl.rows_payload(43, 2, [[7, "x"]], types, metas))
        w.append(bl.XID_EVENT, bl.xid_payload(9))
        data = w.bytes()
        first = bl.parse_segment(data)
        want = copy.deepcopy(first)
        tm = next(e for e in first if e["kind"] == "table_map")
        with contextlib.suppress(TypeError, AttributeError):  # frozen: refused
            tm["col_types"][0] = bl.MYSQL_TYPE_VARCHAR
        with contextlib.suppress(TypeError, AttributeError):
            tm["col_types"].append(bl.MYSQL_TYPE_LONG)
        assert bl.parse_segment(data) == want
