"""Kafka wire protocol EOS over a REAL loopback broker
(sinks/kafkawire.py): RecordBatch v2 with CRC32C (pinned to the
Castagnoli test vector), murmur2 partitioning, and the transactional
protocol (InitProducerId epoch bumps, AddPartitionsToTxn, transactional
Produce, EndTxn commit/abort) against a broker that enforces the real
semantics — uncommitted transactions invisible, epoch fencing, abort
discards — driven end-to-end through ``write_kafka_eos`` from Spark
executor workers.
"""

import json
import socket
import struct
import threading

import pytest

import deltaforge_spark.sinks.kafkawire as kw
from deltaforge_spark.sinks.kafka_eos import ProducerFencedError, write_kafka_eos

# ------------------------------------------------------- mock broker


class BrokerState:
    def __init__(self):
        self.lock = threading.Lock()
        self.next_pid = 1000
        self.txns = {}          # txn_id -> (pid, epoch)
        self.by_pid = {}        # pid -> txn_id
        self.open = {}          # pid -> list[(topic, part, batchdict)]
        self.committed = {}     # (topic, part) -> list[record dict]
        self.endtxns = []       # (txn_id, committed_bool)
        self.produce_errors = 0


def _read_exact(conn, n):
    buf = bytearray()
    while len(buf) < n:
        c = conn.recv(n - len(buf))
        if not c:
            raise ConnectionError
        buf += c
    return bytes(buf)


def _read_str(buf, pos):
    ln = struct.unpack_from(">h", buf, pos)[0]
    pos += 2
    if ln < 0:
        return None, pos
    return buf[pos : pos + ln].decode(), pos + ln


def _kafka_broker(state: BrokerState):
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(16)
    port = srv.getsockname()[1]

    def fenced(pid, epoch):
        txn = state.by_pid.get(pid)
        return txn is None or state.txns[txn] != (pid, epoch)

    def handle(conn):
        try:
            while True:
                ln = struct.unpack(">i", _read_exact(conn, 4))[0]
                msg = _read_exact(conn, ln)
                api, ver, corr = struct.unpack_from(">hhi", msg, 0)
                pos = 8
                _cid, pos = _read_str(msg, pos)
                body = msg[pos:]
                out = struct.pack(">i", corr)
                with state.lock:
                    if api == kw.API_INIT_PRODUCER_ID:
                        txn_id, p = _read_str(body, 0)
                        if txn_id in state.txns:
                            pid, epoch = state.txns[txn_id]
                            # epoch bump fences the old producer and
                            # ABORTS its open transaction (real broker
                            # behavior on re-init)
                            state.open.pop(pid, None)
                            state.txns[txn_id] = (pid, epoch + 1)
                        else:
                            state.txns[txn_id] = (state.next_pid, 0)
                            state.by_pid[state.next_pid] = txn_id
                            state.next_pid += 1
                        pid, epoch = state.txns[txn_id]
                        state.by_pid[pid] = txn_id
                        out += struct.pack(">ihqh", 0, 0, pid, epoch)
                    elif api == kw.API_ADD_PARTITIONS_TO_TXN:
                        txn_id, p = _read_str(body, 0)
                        pid, epoch = struct.unpack_from(">qh", body, p)
                        p += 10
                        _n = struct.unpack_from(">i", body, p)[0]
                        topic, p2 = _read_str(body, p + 4)
                        part = struct.unpack_from(">i", body, p2 + 4)[0]
                        err = kw.ERR_INVALID_PRODUCER_EPOCH if fenced(pid, epoch) else 0
                        out += struct.pack(">i", 0)
                        out += struct.pack(">i", 1) + kw._str(topic)
                        out += struct.pack(">i", 1) + struct.pack(">ih", part, err)
                    elif api == kw.API_PRODUCE:
                        txn_id, p = _read_str(body, 0)
                        _acks, _timeout = struct.unpack_from(">hi", body, p)
                        p += 6
                        _tn = struct.unpack_from(">i", body, p)[0]
                        topic, p = _read_str(body, p + 4)
                        _pn = struct.unpack_from(">i", body, p)[0]
                        part = struct.unpack_from(">i", body, p + 4)[0]
                        blen = struct.unpack_from(">i", body, p + 8)[0]
                        batch_bytes = body[p + 12 : p + 12 + blen]
                        err, base_offset = 0, 0
                        if state.produce_errors > 0:
                            state.produce_errors -= 1
                            err = 2  # CORRUPT_MESSAGE: generic retryable
                        else:
                            batch = kw.decode_record_batch(batch_bytes)
                            if fenced(batch["producer_id"], batch["producer_epoch"]):
                                err = kw.ERR_INVALID_PRODUCER_EPOCH
                            else:
                                state.open.setdefault(batch["producer_id"], []).append(
                                    (topic, part, batch)
                                )
                        out += struct.pack(">i", 1) + kw._str(topic)
                        out += struct.pack(">i", 1)
                        out += struct.pack(">ihqq", part, err, base_offset, -1)
                        out += struct.pack(">i", 0)  # throttle
                    elif api == kw.API_END_TXN:
                        txn_id, p = _read_str(body, 0)
                        pid, epoch = struct.unpack_from(">qh", body, p)
                        committed = bool(body[p + 10])
                        if fenced(pid, epoch):
                            out += struct.pack(">ih", 0, kw.ERR_INVALID_PRODUCER_EPOCH)
                        else:
                            pending = state.open.pop(pid, [])
                            if committed:
                                for topic, part, batch in pending:
                                    state.committed.setdefault((topic, part), []).extend(
                                        batch["records"]
                                    )
                            state.endtxns.append((txn_id, committed))
                            out += struct.pack(">ih", 0, 0)
                    else:
                        out += struct.pack(">h", 35)  # UNSUPPORTED_VERSION
                conn.sendall(struct.pack(">i", len(out)) + out)
        except (OSError, ConnectionError):
            pass

    def accept_loop():
        try:
            while True:
                conn, _ = srv.accept()
                threading.Thread(target=handle, args=(conn,), daemon=True).start()
        except OSError:
            pass

    threading.Thread(target=accept_loop, daemon=True).start()
    return port, srv


@pytest.fixture()
def broker():
    state = BrokerState()
    port, srv = _kafka_broker(state)
    yield port, state
    srv.close()


def _connect(port):
    # the broker thread dies on a batch it cannot decode; the timeout
    # turns the producer's wait for its reply into a failure, not a hang
    return socket.create_connection(("127.0.0.1", port), timeout=60)


# ---------------------------------------------------------------- unit


class TestPrimitives:
    def test_crc32c_castagnoli_vector(self):
        assert kw.crc32c(b"123456789") == 0xE3069283  # the standard check value
        assert kw.crc32c(b"") == 0

    def test_crc32c_rfc3720_vectors(self):
        # RFC 3720 (iSCSI) appendix B.4 CRC-32C examples
        vectors = [
            (bytes(32), 0x8A9136AA),
            (b"\xff" * 32, 0x62A8AB43),
            (bytes(range(32)), 0x46DD794E),
            (bytes(range(31, -1, -1)), 0x113FDB5C),
        ]
        for data, want in vectors:
            assert kw.crc32c(data) == want
        assert kw.crc32c_many([d for d, _ in vectors]) == [w for _, w in vectors]

    # The numpy pass is checked against the byte-table loop, not against
    # itself: the producer and the validating broker both call crc32c,
    # so a wrong large-buffer CRC would round-trip unnoticed. The C
    # wheel, when installed, is switched off so the numpy pass runs.

    @staticmethod
    def _table_crc(data):
        return kw._crc32c_scalar_raw(data, 0xFFFFFFFF) ^ 0xFFFFFFFF

    def test_crc32c_matches_table_loop_at_edge_lengths(self, monkeypatch):
        import random

        monkeypatch.setattr(kw, "_c_crc32c", None)
        rng = random.Random(7)
        lengths = [*range(6), 511, 512, 513, 16383, 16384, 16385]
        bufs = [rng.randbytes(n) for n in lengths]
        want = [self._table_crc(b) for b in bufs]
        assert [kw.crc32c(b) for b in bufs] == want
        assert [kw.crc32c_many([b])[0] for b in bufs] == want
        assert kw.crc32c_many(bufs) == want

    def test_crc32c_many_across_the_pass_bound(self, monkeypatch):
        import random

        monkeypatch.setattr(kw, "_c_crc32c", None)
        rng = random.Random(11)
        bound = kw._CRC_PASS_BYTES
        # one buffer per side of the bound, and remainders of 1..5 bytes
        # after a full pass (the last 1-3 take the table loop)
        big = [rng.randbytes(bound + d) for d in (-1, 0, 1, 3, 4, 5)]
        for b in big:
            assert kw.crc32c(b) == self._table_crc(b)
        # one mixed call: edge lengths, random sizes and a buffer that
        # needs three passes, in shuffled order
        edges = (0, 1, 3, 4, 5, 511, 512, 513, 16383, 16384, 16385)
        bufs = [rng.randbytes(n) for n in edges]
        bufs += [rng.randbytes(rng.randrange(70_000)) for _ in range(40)]
        bufs.append(rng.randbytes(2 * bound + 515))
        rng.shuffle(bufs)
        assert kw.crc32c_many(bufs) == [self._table_crc(b) for b in bufs]

    def test_crc32c_many_small_pass_bound(self, monkeypatch):
        # a 2 KiB bound makes most buffers span several rounds and most
        # passes hold several rows: register carry and packing both run
        import random

        monkeypatch.setattr(kw, "_c_crc32c", None)
        monkeypatch.setattr(kw, "_CRC_PASS_BYTES", 2048)
        rng = random.Random(13)
        bufs = [rng.randbytes(rng.randrange(12_000)) for _ in range(60)]
        bufs += [rng.randbytes(2048 * k + d) for k in (1, 2) for d in (1, 3, 4)]
        assert kw.crc32c_many(bufs) == [self._table_crc(b) for b in bufs]

    def test_crc32c_many_threads_share_the_fold_tables(self, monkeypatch):
        # the threaded loopback broker validates CRCs concurrently: start
        # from an empty fold-table cache so the threads race to grow it
        import random
        import sys

        monkeypatch.setattr(kw, "_c_crc32c", None)
        monkeypatch.setattr(kw, "_lane_pow_cache", [])
        rng = random.Random(17)
        bufs = [rng.randbytes(rng.randrange(4, 300_000)) for _ in range(16)]
        want = [self._table_crc(b) for b in bufs]
        results = {}

        def worker(i):
            results[i] = kw.crc32c_many(bufs[i:] + bufs[:i])

        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        assert results == {i: want[i:] + want[:i] for i in range(8)}

    def test_varint_zigzag(self):
        for n in (0, 1, -1, 63, -64, 300, -300, 2**31, -(2**31)):
            buf = kw.varint(n)
            got, pos = kw.read_varint(buf, 0)
            assert (got, pos) == (n, len(buf))

    def test_record_batch_round_trip_crc_verified(self):
        records = [
            (b"k1", b"v1", [("h", b"x")]),
            (None, b"v2", []),
            (b"k3", None, [("a", b"1"), ("b", None)]),
        ]
        raw = kw.encode_record_batch(
            records, base_timestamp=1234,
            producer_id=77, producer_epoch=3, base_sequence=9, transactional=True,
        )
        out = kw.decode_record_batch(raw)
        assert out["producer_id"] == 77 and out["producer_epoch"] == 3
        assert out["base_sequence"] == 9 and out["transactional"]
        assert [(r["key"], r["value"]) for r in out["records"]] == \
            [(b"k1", b"v1"), (None, b"v2"), (b"k3", None)]
        assert out["records"][0]["headers"] == [("h", b"x")]
        # flip one payload byte: CRC must catch it
        tampered = bytearray(raw)
        tampered[-1] ^= 0xFF
        with pytest.raises(kw.KafkaError, match="crc32c"):
            kw.decode_record_batch(bytes(tampered))

    def test_partitioner_is_stable_and_bounded(self):
        parts = [kw.partition_for(f"k{i}".encode(), 8) for i in range(1000)]
        assert all(0 <= p < 8 for p in parts)
        assert kw.partition_for(b"same", 8) == kw.partition_for(b"same", 8)
        assert len(set(parts)) == 8  # murmur2 spreads
        assert kw.partition_for(None, 8) == 0

    def test_vectorized_partitioner_matches_scalar(self):
        # every length class 0..9 (4-byte chunks + all three tail arms),
        # None keys, a large same-length group (vector path), and small
        # groups (scalar fallback) — bit-identical to partition_for
        import random

        rng = random.Random(42)
        keys: list = []
        for L in range(10):
            for _ in range(40):
                keys.append(bytes(rng.randrange(256) for _ in range(L)))
        keys += [None] * 7
        keys += [f"evt-{i:020d}".encode() for i in range(500)]
        rng.shuffle(keys)
        for npart in (1, 3, 8):
            got = kw.murmur2_partitions(keys, npart)
            want = [kw.partition_for(k, npart) for k in keys]
            assert got == want


# ------------------------------------------------------------ protocol


class TestTransactionalProtocol:
    def test_commit_makes_records_visible(self, broker):
        port, state = broker
        p = kw.KafkaWireProducer(_connect(port), "tx-1", num_partitions=2)
        p.init_transactions()
        p.begin_transaction()
        p.send("t", "k1", "v1", json.dumps({"h": "1"}))
        p.send("t", "k2", "v2", None)
        # nothing visible before EndTxn(commit)
        assert state.committed == {}
        p.commit_transaction()
        vals = sorted(
            r["value"] for recs in state.committed.values() for r in recs
        )
        assert vals == [b"v1", b"v2"]
        hdrs = [r["headers"] for recs in state.committed.values() for r in recs
                if r["key"] == b"k1"]
        assert hdrs == [[("h", b"1")]]
        assert state.endtxns == [("tx-1", True)]
        p.close()

    def test_abort_discards_buffered_records(self, broker):
        port, state = broker
        p = kw.KafkaWireProducer(_connect(port), "tx-a")
        p.init_transactions()
        p.begin_transaction()
        p.send("t", "k", "v", None)
        p._flush()  # records reach the broker's open-txn buffer
        p.abort_transaction()
        assert state.committed == {}
        assert state.endtxns == [("tx-a", False)]
        p.close()

    def test_epoch_fencing_kills_the_older_producer(self, broker):
        port, state = broker
        a = kw.KafkaWireProducer(_connect(port), "tx-f")
        a.init_transactions()
        b = kw.KafkaWireProducer(_connect(port), "tx-f")
        b.init_transactions()  # bumps epoch: a is now a zombie
        a.begin_transaction()
        a.send("t", "k", "v", None)
        with pytest.raises(ProducerFencedError):
            a.commit_transaction()
        # the survivor still works
        b.begin_transaction()
        b.send("t", "k", "v-new", None)
        b.commit_transaction()
        vals = [r["value"] for recs in state.committed.values() for r in recs]
        assert vals == [b"v-new"]
        a.close(); b.close()

    def test_reinit_aborts_open_txn_no_duplicates_on_redelivery(self, broker):
        """The crash-replay contract: a producer dies mid-transaction
        (no EndTxn); re-initializing the same transactional id aborts
        the open transaction broker-side, so redelivery commits exactly
        one copy."""
        port, state = broker
        p1 = kw.KafkaWireProducer(_connect(port), "tx-r")
        p1.init_transactions()
        p1.begin_transaction()
        p1.send("t", "k", "v", None)
        p1._flush()  # delivered but NOT committed — then the worker dies
        p1.close()
        p2 = kw.KafkaWireProducer(_connect(port), "tx-r")
        p2.init_transactions()  # fences p1, aborts its open txn
        p2.begin_transaction()
        p2.send("t", "k", "v", None)  # redelivery of the same batch
        p2.commit_transaction()
        vals = [r["value"] for recs in state.committed.values() for r in recs]
        assert vals == [b"v"]  # exactly once
        p2.close()

    def test_flush_sends_encode_record_batch_bytes(self, broker, monkeypatch):
        """Each Produce payload of a flush is ``encode_record_batch`` of
        its (topic, partition) group with that group's base sequence,
        sent after its AddPartitionsToTxn, groups in sorted order."""
        import random

        port, _state = broker
        monkeypatch.setattr(kw, "_c_crc32c", None)  # run the numpy pass
        rng = random.Random(3)
        p = kw.KafkaWireProducer(_connect(port), "tx-bytes", num_partitions=3)
        p.init_transactions()
        calls = []
        real_call = p.client.call

        def recording_call(api_key, api_version, body):
            calls.append((api_key, body))
            return real_call(api_key, api_version, body)

        p.client.call = recording_call
        sequences = {}
        for txn in range(2):
            sent = []
            p.begin_transaction()
            for i in range(400):
                topic = ("orders", "users", "items")[i % 3]
                key = f"k{txn}-{i}".encode()
                # the "orders" batches pass 16 KiB, the others stay small
                value = rng.randbytes(500 if i % 3 == 0 else 8)
                hdrs = json.dumps({"op": "c"}) if i % 2 else None
                p.send(topic, key, value, hdrs)
                sent.append((topic, key, value, [("op", b"c")] if i % 2 else []))
            calls.clear()
            p.commit_transaction()
            groups = {}
            for topic, key, value, hdrs in sent:
                part = kw.partition_for(key, 3)
                groups.setdefault((topic, part), []).append((key, value, hdrs))
            assert len(groups) > 3
            want_calls = []
            for (topic, part), records in sorted(groups.items()):
                seq = sequences.get((topic, part), 0)
                batch = kw.encode_record_batch(
                    records, base_timestamp=p.ts, producer_id=p.producer_id,
                    producer_epoch=p.producer_epoch, base_sequence=seq,
                    transactional=True,
                )
                sequences[(topic, part)] = seq + len(records)
                want_calls.append((kw.API_ADD_PARTITIONS_TO_TXN, topic, part))
                want_calls.append((kw.API_PRODUCE, topic, part, batch))
            got_calls = []
            for api_key, body in calls:
                _txn, pos = _read_str(body, 0)
                if api_key == kw.API_ADD_PARTITIONS_TO_TXN:
                    topic, pos = _read_str(body, pos + 10 + 4)
                    part = struct.unpack_from(">i", body, pos + 4)[0]
                    got_calls.append((api_key, topic, part))
                elif api_key == kw.API_PRODUCE:
                    topic, pos = _read_str(body, pos + 6 + 4)
                    part, blen = struct.unpack_from(">ii", body, pos + 4)
                    batch = body[pos + 12 : pos + 12 + blen]
                    assert len(batch) == blen
                    got_calls.append((api_key, topic, part, batch))
            assert got_calls == want_calls
            assert calls[-1][0] == kw.API_END_TXN
            assert max(len(c[3]) for c in want_calls if len(c) == 4) > 16384
        p.close()


# ----------------------------------------------------------- via Spark


class TestEosOverSparkPartitions:
    def test_write_kafka_eos_end_to_end(self, spark, broker):
        port, state = broker
        from pyspark.sql import functions as F

        rows = [
            ("c", 1000 + i, json.dumps({"op": "c", "order": f"o-{i}"}),
             ("testdb", "orders"), "t1", (str(i),), ("orders", f"key-{i}", None))
            for i in range(30)
        ]
        df = spark.createDataFrame(
            rows,
            "op string, ts_ms long, value string, "
            "source struct<db:string,table:string>, tenant_id string, "
            "transaction struct<id:string>, "
            "routing struct<topic:string,key:string,headers:map<string,string>>",
        ).withColumn("event_id", F.col("ts_ms"))
        write_kafka_eos(
            df.repartition(3),
            kw.kafka_wire_producer_factory("127.0.0.1", port, num_partitions=4),
            pipeline="cdc", sink_id="kafka", default_topic="orders",
        )
        n = sum(len(v) for v in state.committed.values())
        assert n == 30
        # every spark partition committed its own transaction
        committed_txns = [t for t, ok in state.endtxns if ok]
        assert len(committed_txns) == len(set(committed_txns)) == 3
        assert all(t.startswith("deltaforge-cdc-kafka-") for t in committed_txns)
        # keyed records landed on murmur2-consistent broker partitions
        for (topic, part), recs in state.committed.items():
            assert topic == "orders"
            for r in recs:
                assert kw.partition_for(r["key"], 4) == part


# ------------------------------------------- out-of-process broker


class TestProcessKafkaBroker:
    """The bench harness broker (VERDICT r5 #1): forked acceptor
    PROCESSES — broker protocol handling must not share the producer
    side's GIL. Counts flow back via shared memory on EndTxn-commit."""

    def test_commits_counted_across_worker_processes(self):
        import threading as th

        broker = kw.ProcessKafkaBroker(workers=3, validate=False)
        try:
            def one_producer(i: int) -> None:
                p = kw.KafkaWireProducer(
                    _connect(broker.port), f"txn-{i}", num_partitions=4
                )
                p.init_transactions()
                p.begin_transaction()
                for j in range(50):
                    p.send("t", f"k-{i}-{j}", f"v-{j}")
                p.commit_transaction()
                p.close()

            threads = [th.Thread(target=one_producer, args=(i,)) for i in range(6)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            assert broker.n_committed_records() == 6 * 50
        finally:
            broker.close()

    def test_abort_not_counted(self):
        broker = kw.ProcessKafkaBroker(workers=2, validate=False)
        try:
            p = kw.KafkaWireProducer(_connect(broker.port), "txn-a", num_partitions=2)
            p.init_transactions()
            p.begin_transaction()
            p.send("t", "k", "v")
            p.abort_transaction()
            p.begin_transaction()
            p.send("t", "k2", "v2")
            p.commit_transaction()
            p.close()
            assert broker.n_committed_records() == 1
        finally:
            broker.close()
