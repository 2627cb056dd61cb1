"""Property tests for the Kafka wire codec (no Spark, no broker):
record-batch v2 encode/decode round-trips arbitrary keys/values/
timestamps, offsets rebase correctly, and corruption never decodes."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from hstream_spark.sources.kafka_wire import (
    _CRC32C_LANES,
    _CRC32C_VECTOR_MIN,
    KafkaWireError,
    _crc32c_update,
    crc32c,
    decode_record_batches,
    enc_varint,
    encode_record_batch,
)


def _crc32c_bytewise(data: bytes) -> int:
    """The byte loop alone: the reference the numpy lanes must match."""
    return _crc32c_update(0xFFFFFFFF, data) ^ 0xFFFFFFFF


def test_crc32c_reference_vectors():
    # RFC 3720 §B.4 / common known-answer vectors
    assert crc32c(b"") == 0
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"a") == 0xC1D04330


# lengths around the vector cut-over, with lane remainders 0, 1 and
# lanes-1 (the bytes the byte loop takes before the lanes start)
_VECTOR_EDGE_LENGTHS = [
    _CRC32C_VECTOR_MIN - 1,
    _CRC32C_VECTOR_MIN,
    _CRC32C_VECTOR_MIN + 1,
    _CRC32C_VECTOR_MIN + _CRC32C_LANES - 1,
    3 * _CRC32C_VECTOR_MIN + 1,
]


@settings(max_examples=25, deadline=None)
@given(
    length=st.one_of(
        st.sampled_from(_VECTOR_EDGE_LENGTHS),
        st.integers(
            min_value=_CRC32C_VECTOR_MIN - 2 * _CRC32C_LANES,
            max_value=_CRC32C_VECTOR_MIN + 2 * _CRC32C_LANES,
        ),
    ),
    seed=st.integers(min_value=0, max_value=2**32),
)
def test_crc32c_lanes_match_byte_loop(length, seed):
    import random

    data = random.Random(seed).randbytes(length)
    assert crc32c(data) == _crc32c_bytewise(data)


def _large_records(n: int = 700, size: int = 100) -> list:
    """Records whose batch is well past the vector cut-over."""
    return [
        (None, bytes([i % 251]) * size, 1_000 + i) for i in range(n)
    ]


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_varint_zigzag_round_trip(v):
    from hstream_spark.sources.kafka_wire import _Reader

    assert _Reader(enc_varint(v)).varint() == v


_record = st.tuples(
    st.one_of(st.none(), st.binary(max_size=64)),   # key
    st.one_of(st.none(), st.binary(max_size=256)),  # value
    st.integers(min_value=0, max_value=2**41),      # timestamp ms
)


@settings(max_examples=200, deadline=None)
@given(
    records=st.lists(_record, min_size=1, max_size=20),
    base=st.integers(min_value=0, max_value=2**31),
)
@example(records=_large_records(), base=7)
def test_record_batch_round_trip(records, base):
    buf = encode_record_batch(records, base_offset=base)
    out = decode_record_batches(buf)
    assert out == [
        (base + i, k, v, ts) for i, (k, v, ts) in enumerate(records)
    ]


@settings(max_examples=50, deadline=None)
@given(
    batches=st.lists(
        st.lists(_record, min_size=1, max_size=5), min_size=1, max_size=5
    )
)
def test_concatenated_batches_decode_in_order(batches):
    buf = b""
    off = 0
    expect = []
    for recs in batches:
        buf += encode_record_batch(recs, base_offset=off)
        expect += [(off + i, k, v, ts) for i, (k, v, ts) in enumerate(recs)]
        off += len(recs)
    assert decode_record_batches(buf) == expect


@settings(max_examples=60, deadline=None)
@given(
    records=st.lists(_record, min_size=1, max_size=8),
    flip=st.integers(min_value=0, max_value=10**9),
)
@example(records=_large_records(), flip=40_000)
def test_corruption_detected_or_safely_truncated(records, flip):
    """Flipping any payload byte must either raise (CRC/structure), or
    land in one of the two fields the Kafka spec deliberately leaves
    OUTSIDE the CRC because brokers rewrite them (batchLength framing →
    reads as a truncated tail; partitionLeaderEpoch → ignored, records
    decode unchanged). Record data itself can never silently corrupt."""
    buf = bytearray(encode_record_batch(records))
    # never flip inside baseOffset (first 8 bytes) — offset is outside
    # the CRC range by design (brokers rewrite it on append)
    idx = 8 + (flip % (len(buf) - 8))
    buf[idx] ^= 0x01
    try:
        out = decode_record_batches(bytes(buf))
    except KafkaWireError:
        return  # detected — good
    if 8 <= idx < 12:  # batchLength prefix: truncated-tail semantics
        assert out == []
    elif 12 <= idx < 16:  # partitionLeaderEpoch: not CRC'd, not used
        assert out == [
            (i, k, v, ts) for i, (k, v, ts) in enumerate(records)
        ]
    else:
        raise AssertionError(
            f"flip at {idx} decoded successfully outside the uncovered fields"
        )


@pytest.mark.parametrize("where", ["first", "head", "lane", "last"])
def test_large_batch_single_byte_flip_raises(where):
    """One flipped byte anywhere in the CRC range of a batch past the
    cut-over is caught: in the byte-loop head, inside a lane, or at
    either end."""
    buf = bytearray(encode_record_batch(_large_records()))
    start = 8 + 4 + 4 + 1 + 4  # CRC range: attributes to the end
    assert len(buf) - start >= _CRC32C_VECTOR_MIN
    head = (len(buf) - start) % _CRC32C_LANES
    idx = {
        "first": start,
        "head": start + max(head - 1, 0),
        "lane": start + head + (len(buf) - start - head) // 2,
        "last": len(buf) - 1,
    }[where]
    buf[idx] ^= 0x10
    with pytest.raises(KafkaWireError, match="CRC32C"):
        decode_record_batches(bytes(buf))


def test_empty_batch_rejected():
    with pytest.raises(KafkaWireError, match="empty"):
        encode_record_batch([])


def _as_control_batch(batch: bytes) -> bytes:
    """Flip the isControl attribute bit and re-sign the CRC — builds the
    transaction-marker shape brokers interleave into fetched logs."""
    import struct

    buf = bytearray(batch)
    # layout: baseOffset(8) batchLength(4) leaderEpoch(4) magic(1) crc(4) attributes(2)
    attr_at = 8 + 4 + 4 + 1 + 4
    attrs = struct.unpack(">h", bytes(buf[attr_at:attr_at + 2]))[0] | 0x20
    buf[attr_at:attr_at + 2] = struct.pack(">h", attrs)
    crc_range = bytes(buf[attr_at:])
    buf[8 + 4 + 4 + 1:attr_at] = struct.pack(">I", crc32c(crc_range))
    return bytes(buf)


def test_control_batches_advance_position_without_records():
    """A trailing control (transaction-marker) batch yields no records
    but still advances next_offset — a consumer committing it never
    stalls refetching the marker."""
    from hstream_spark.sources.kafka_wire import decode_record_batches_ex

    data = encode_record_batch([(None, b"v", 1000), (None, b"w", 1001)],
                               base_offset=0)
    marker = _as_control_batch(encode_record_batch([(b"c", b"", 1002)],
                                                   base_offset=2))
    records, end = decode_record_batches_ex(data + marker)
    assert [r[0] for r in records] == [0, 1]  # marker carries no records
    assert end == 3                            # but the position passes it


def test_tailer_commits_past_trailing_control_batch(tmp_path):
    """KafkaIngestTailer against a stub log ending in a control batch:
    one poll ingests the data AND commits past the marker; the next
    poll is a no-op (no refetch stall)."""
    from hstream_spark.sources.connectors import KafkaIngestTailer
    from hstream_spark.sources.kafka_stub import KafkaStubBroker, _PartitionLog

    with KafkaStubBroker() as broker:
        broker.create_topic("ctl_t")
        log = broker._topics["ctl_t"][0]
        data = encode_record_batch(
            [(None, b'{"x": 1}', 1000), (None, b'{"x": 2}', 1001)],
            base_offset=0,
        )
        marker = _as_control_batch(
            encode_record_batch([(b"c", b"", 1002)], base_offset=2)
        )
        log.batches = [(0, 1, data), (2, 2, marker)]
        log.next_offset = 3

        got = []
        t = KafkaIngestTailer(
            broker.bootstrap, "ctl_t",
            emit=lambda batch: got.extend(batch) or len(batch),
            offsets_path=str(tmp_path / "off.json"),
        )
        assert t.poll() == 2
        assert [r[0]["x"] for r in got] == [1, 2]
        assert t.offsets[0] == 3      # committed PAST the marker
        assert t.poll() == 0          # idle, no stall
        t.stop()


# ---------------------------------------------------------------------------
# compressed record batches (gzip stdlib; optional codecs error by name)
# ---------------------------------------------------------------------------


@settings(max_examples=100, deadline=None)
@given(
    records=st.lists(_record, min_size=1, max_size=20),
    base=st.integers(min_value=0, max_value=2**31),
)
def test_gzip_record_batch_round_trip(records, base):
    buf = encode_record_batch(records, base_offset=base, compression="gzip")
    out = decode_record_batches(buf)
    assert out == [
        (base + i, k, v, ts) for i, (k, v, ts) in enumerate(records)
    ]


@settings(max_examples=30, deadline=None)
@given(
    plain=st.lists(_record, min_size=1, max_size=5),
    gz=st.lists(_record, min_size=1, max_size=5),
)
def test_mixed_plain_and_gzip_batches_decode_in_order(plain, gz):
    buf = encode_record_batch(plain, base_offset=0) + encode_record_batch(
        gz, base_offset=len(plain), compression="gzip"
    )
    expect = [(i, k, v, ts) for i, (k, v, ts) in enumerate(plain)]
    expect += [
        (len(plain) + i, k, v, ts) for i, (k, v, ts) in enumerate(gz)
    ]
    assert decode_record_batches(buf) == expect


@settings(max_examples=40, deadline=None)
@given(
    records=st.lists(_record, min_size=1, max_size=8),
    flip=st.integers(min_value=0, max_value=10**9),
)
def test_gzip_corruption_detected(records, flip):
    """Any flipped byte in a gzip batch must raise or hit the two
    deliberately-uncovered header fields (framing length / leader
    epoch) — the CRC covers the COMPRESSED payload, so corruption is
    caught before the decompressor sees garbage."""
    buf = bytearray(encode_record_batch(records, compression="gzip"))
    idx = 8 + (flip % (len(buf) - 8))
    buf[idx] ^= 0x01
    try:
        out = decode_record_batches(bytes(buf))
    except KafkaWireError:
        return
    if 8 <= idx < 12:
        assert out == []
    elif 12 <= idx < 16:
        assert out == [(i, k, v, ts) for i, (k, v, ts) in enumerate(records)]
    else:
        raise AssertionError(f"flip at {idx} silently decoded")


def test_missing_optional_codec_errors_name_the_codec():
    """A snappy/lz4/zstd batch without the optional library must fail
    with an error naming the codec and package (not a raw ImportError);
    a gzip batch always decodes (stdlib)."""
    import importlib.util

    from hstream_spark.sources.kafka_wire import (
        _CODEC_IDS,
        crc32c,
        decode_record_batches_ex,
    )

    base = bytearray(encode_record_batch([(None, b"v", 1000)]))
    attr_at = 8 + 4 + 4 + 1 + 4
    for codec, pkg in (("snappy", "snappy"), ("lz4", "lz4"),
                       ("zstd", "zstandard")):
        if importlib.util.find_spec(pkg) is not None:
            continue  # library present: decode path exercised elsewhere
        buf = bytearray(base)
        import struct

        attrs = struct.unpack(">h", bytes(buf[attr_at:attr_at + 2]))[0]
        buf[attr_at:attr_at + 2] = struct.pack(
            ">h", (attrs & ~0x07) | _CODEC_IDS[codec]
        )
        buf[8 + 4 + 4 + 1:attr_at] = struct.pack(
            ">I", crc32c(bytes(buf[attr_at:]))
        )
        with pytest.raises(KafkaWireError, match=codec):
            decode_record_batches_ex(bytes(buf))


def test_unknown_compression_name_rejected():
    with pytest.raises(KafkaWireError, match="unknown compression"):
        encode_record_batch([(None, b"v", 0)], compression="brotli")


def test_produce_acks_zero_rejected():
    """acks=0 gets no broker response; the client must refuse instead
    of blocking until socket timeout."""
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("a0")
        client = KafkaClient(broker.bootstrap)
        try:
            with pytest.raises(KafkaWireError, match="acks=0"):
                client.produce("a0", [(None, b"v", 0)], acks=0)
        finally:
            client.close()


def test_gzip_topic_produce_fetch_round_trip():
    """Producer-compressed topic end to end: gzip batches survive the
    broker byte-for-byte (rebase happens OUTSIDE the CRC range) and the
    consumer's fetch path decompresses them."""
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("gz")
        client = KafkaClient(broker.bootstrap)
        try:
            recs = [(None, f'{{"i": {i}}}'.encode(), 1000 + i) for i in range(50)]
            base = client.produce("gz", recs, compression="gzip")
            assert base == 0
            base2 = client.produce("gz", recs[:3], compression="gzip")
            assert base2 == 50
            # the stored batch is still compressed (attributes bit set)
            log = broker._topics["gz"][0]
            attrs = log.batches[0][2][8 + 4 + 4 + 1 + 4 + 1]  # low attr byte
            assert attrs & 0x07 == 1
            got, hwm = client.fetch("gz", 0, 0)
            assert hwm == 53
            assert [(o, v) for (o, _k, v, _t) in got][:3] == [
                (0, b'{"i": 0}'), (1, b'{"i": 1}'), (2, b'{"i": 2}')
            ]
            assert len(got) == 53
            assert got[50][0] == 50  # second batch rebased past the first
        finally:
            client.close()


def test_tailer_ingests_gzip_compressed_topic(tmp_path):
    """The engine-side tailer survives the most common real-world topic
    configuration: producer-side gzip compression."""
    from hstream_spark.sources.connectors import KafkaIngestTailer
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("gzt")
        client = KafkaClient(broker.bootstrap)
        client.produce(
            "gzt",
            [(None, f'{{"x": {i}}}'.encode(), 1000 + i) for i in range(10)],
            compression="gzip",
        )
        client.close()
        got = []
        t = KafkaIngestTailer(
            broker.bootstrap, "gzt",
            emit=lambda batch: got.extend(batch) or len(batch),
            offsets_path=str(tmp_path / "off.json"),
        )
        assert t.poll() == 10
        assert [r[0]["x"] for r in got] == list(range(10))
        assert t.poll() == 0
        t.stop()


def test_tailer_poll_is_serialized_across_threads(tmp_path):
    """The background loop and the INSERT-path synchronous poll must
    not double-ingest: two concurrent poll() calls over the same
    committed offset may each fetch the same page. With the lock, the
    total emitted equals the topic exactly once."""
    import threading
    import time as _time

    from hstream_spark.sources.connectors import KafkaIngestTailer
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("conc")
        client = KafkaClient(broker.bootstrap)
        client.produce(
            "conc", [(None, f'{{"i": {i}}}'.encode(), i) for i in range(20)]
        )
        client.close()
        got = []
        lock = threading.Lock()

        def emit(batch):
            # slow emit widens the fetch→commit window that an
            # unsynchronized second poller would race into
            with lock:
                got.extend(batch)
            _time.sleep(0.05)
            return len(batch)

        t = KafkaIngestTailer(
            broker.bootstrap, "conc", emit=emit,
            offsets_path=str(tmp_path / "off.json"),
            max_batch_bytes=256,  # force several fetch pages
        )
        threads = [threading.Thread(target=t.poll) for _ in range(4)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert sorted(r[0]["i"] for r in got) == list(range(20))
        t.stop()


def test_partition_error_code_invalidates_leader_cache():
    """A leader-moved failure surfaces as a partition ERROR CODE with a
    healthy transport; the client must drop its cached leader so the
    next call re-resolves instead of retrying the stale broker."""
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("lc", partitions=1)
        client = KafkaClient(broker.bootstrap)
        try:
            client.list_offsets("lc", 0)  # warm the leader cache
            assert ("lc", 0) in client._leaders
            # fetch a partition the broker doesn't know → error code 3
            client._leaders[("lc", 9)] = client._leaders[("lc", 0)]
            with pytest.raises(KafkaWireError, match="error code 3"):
                client.fetch("lc", 9, 0)
            assert ("lc", 9) not in client._leaders
        finally:
            client.close()


# ---------------------------------------------------------------------------
# broker-committed offsets (OffsetCommit v2 / OffsetFetch v1 /
# FindCoordinator v0)
# ---------------------------------------------------------------------------


def test_offset_commit_fetch_round_trip():
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("oc", partitions=2)
        client = KafkaClient(broker.bootstrap)
        try:
            assert client.offset_fetch("g1", "oc", [0, 1]) == {}
            client.offset_commit("g1", "oc", {0: 5, 1: 9})
            assert client.offset_fetch("g1", "oc", [0, 1]) == {0: 5, 1: 9}
            # groups are independent namespaces
            assert client.offset_fetch("g2", "oc", [0, 1]) == {}
            client.offset_commit("g1", "oc", {0: 7})
            assert client.offset_fetch("g1", "oc", [0, 1]) == {0: 7, 1: 9}
        finally:
            client.close()


def test_tailer_commits_offsets_to_broker(tmp_path):
    """With a group_id the tailer's progress is broker-visible — the
    view `kafka-consumer-groups --describe` would show."""
    from hstream_spark.sources.connectors import KafkaIngestTailer
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("bc")
        client = KafkaClient(broker.bootstrap)
        client.produce("bc", [(None, b'{"i": %d}' % i, i) for i in range(7)])
        t = KafkaIngestTailer(
            broker.bootstrap, "bc", emit=lambda b: len(b),
            offsets_path=str(tmp_path / "off.json"), group_id="hstream-bc",
        )
        assert t.poll() == 7
        assert client.offset_fetch("hstream-bc", "bc", [0]) == {0: 7}
        client.close()
        t.stop()


def test_tailer_resumes_from_broker_offsets_without_sidecar(tmp_path):
    """Restart-resume driven PURELY from broker-side committed offsets:
    a second tailer on a fresh host (no sidecar file) continues where
    the group left off instead of replaying the topic."""
    from hstream_spark.sources.connectors import KafkaIngestTailer
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("br")
        client = KafkaClient(broker.bootstrap)
        client.produce("br", [(None, b'{"i": %d}' % i, i) for i in range(5)])
        t1 = KafkaIngestTailer(
            broker.bootstrap, "br", emit=lambda b: len(b),
            offsets_path=str(tmp_path / "host1.json"), group_id="g",
        )
        assert t1.poll() == 5
        t1.stop()
        # new records arrive; a different "host" (no sidecar) takes over
        client.produce("br", [(None, b'{"i": %d}' % i, i) for i in (5, 6)])
        client.close()
        got = []
        t2 = KafkaIngestTailer(
            broker.bootstrap, "br",
            emit=lambda b: got.extend(b) or len(b),
            offsets_path=str(tmp_path / "host2.json"), group_id="g",
        )
        assert t2.poll() == 2  # only the new records — no replay
        assert [r[0]["i"] for r in got] == [5, 6]
        t2.stop()


def test_tailer_broker_commit_failure_falls_back_to_sidecar(tmp_path):
    """A broker that errors on OffsetCommit must not break ingestion:
    the tailer logs once and keeps the sidecar as source of truth."""
    from hstream_spark.sources.connectors import KafkaIngestTailer
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources import kafka_stub as KS
    from hstream_spark.sources import kafka_wire as W
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("bf")
        client = KafkaClient(broker.bootstrap)
        client.produce("bf", [(None, b'{"i": 1}', 0)])
        client.close()
        orig = KafkaStubBroker._dispatch

        def failing(self, api_key, api_version, r, cstate=None):
            if api_key == W.API_FIND_COORDINATOR:
                # COORDINATOR_NOT_AVAILABLE=15 — offsets storage down
                return (W.enc_int16(15) + W.enc_int32(-1)
                        + W.enc_string("") + W.enc_int32(-1))
            return orig(self, api_key, api_version, r, cstate)

        KS.KafkaStubBroker._dispatch = failing
        try:
            t = KafkaIngestTailer(
                broker.bootstrap, "bf", emit=lambda b: len(b),
                offsets_path=str(tmp_path / "off.json"), group_id="g",
            )
            assert t.poll() == 1
            assert t.offsets[0] == 1
            assert t._broker_commit_backoff > 0  # sparse-retry mode
            t.stop()
        finally:
            KS.KafkaStubBroker._dispatch = orig


# ---------------------------------------------------------------------------
# consumer-group membership (JoinGroup / SyncGroup / Heartbeat / LeaveGroup)
# ---------------------------------------------------------------------------


def test_single_member_group_gets_all_partitions():
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("grp_t", partitions=4)
        c = KafkaClient(broker.bootstrap)
        try:
            m = c.join_and_sync("g1", ["grp_t"])
            assert m["assignment"] == {"grp_t": [0, 1, 2, 3]}
            assert m["generation"] == 1
            assert c.heartbeat("g1", m["generation"], m["member_id"]) == 0
            c.leave_group("g1", m["member_id"])
            # after leaving, the member is unknown to the coordinator
            assert c.heartbeat("g1", m["generation"], m["member_id"]) == 25
        finally:
            c.close()


def test_two_members_split_partitions_range():
    """The full rebalance: a second consumer joins, the first sees
    REBALANCE_IN_PROGRESS on heartbeat, rejoins, and the leader's range
    assignment splits the topic's partitions disjointly."""
    import threading
    import time as _time

    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("grp2", partitions=4)
        a = KafkaClient(broker.bootstrap)
        b = KafkaClient(broker.bootstrap)
        try:
            ma = a.join_and_sync("g2", ["grp2"])
            assert ma["assignment"] == {"grp2": [0, 1, 2, 3]}
            result_b: dict = {}

            def join_b():
                result_b.update(b.join_and_sync("g2", ["grp2"]))

            t = threading.Thread(target=join_b)
            t.start()
            # A discovers the rebalance through heartbeat and rejoins
            for _ in range(100):
                if a.heartbeat("g2", ma["generation"], ma["member_id"]) != 0:
                    break
                _time.sleep(0.02)
            ma2 = a.join_and_sync("g2", ["grp2"], member_id=ma["member_id"])
            t.join(timeout=10)
            assert result_b, "B's join never completed"
            pa = ma2["assignment"].get("grp2", [])
            pb = result_b["assignment"].get("grp2", [])
            assert sorted(pa + pb) == [0, 1, 2, 3]
            assert not (set(pa) & set(pb))
            assert len(pa) == 2 and len(pb) == 2
            assert ma2["generation"] == result_b["generation"]
        finally:
            a.close()
            b.close()


def test_coordinated_tailers_split_partitions(tmp_path):
    """Two coordinated tailers in one consumer group divide the topic:
    after the rebalance each polls ONLY its assigned partitions, the
    union covers every record exactly once, and when one leaves the
    survivor takes the whole topic back."""
    import threading
    import time as _time

    from hstream_spark.sources.connectors import KafkaIngestTailer
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("coord", partitions=4)
        prod = KafkaClient(broker.bootstrap)
        for p in range(4):
            prod.produce(
                "coord",
                [(None, b'{"p": %d, "i": %d}' % (p, i), i) for i in range(5)],
                partition=p,
            )
        got_a: list = []
        got_b: list = []

        def tailer(name, sink):
            return KafkaIngestTailer(
                broker.bootstrap, "coord",
                emit=lambda batch: sink.extend(batch) or len(batch),
                offsets_path=str(tmp_path / f"{name}.json"),
                group_id="gc", coordinated=True,
            )

        ta = tailer("a", got_a)
        assert ta.poll() == 20  # alone: all four partitions
        assert ta._membership["assignment"]["coord"] == [0, 1, 2, 3]

        tb = tailer("b", got_b)
        done = threading.Event()

        def b_first_poll():
            tb.poll()  # blocks in the join barrier until A rejoins
            done.set()

        threading.Thread(target=b_first_poll, daemon=True).start()
        for _ in range(200):  # A's poll heartbeats, sees the rebalance,
            ta.poll()          # rejoins, and completes B's barrier
            if done.wait(0.02):
                break
        assert done.is_set(), "B never obtained an assignment"
        pa = set(ta._membership["assignment"]["coord"])
        pb = set(tb._membership["assignment"]["coord"])
        assert pa | pb == {0, 1, 2, 3} and not (pa & pb)
        assert len(pa) == 2 and len(pb) == 2

        # fresh records: each tailer ingests ONLY its own partitions
        for p in range(4):
            prod.produce("coord", [(None, b'{"p": %d, "i": 9}' % p, 9)],
                         partition=p)
        got_a.clear(), got_b.clear()
        ta.poll(), tb.poll()
        seen_a = {r[0]["p"] for r in got_a}
        seen_b = {r[0]["p"] for r in got_b}
        assert seen_a == pa and seen_b == pb

        # B leaves; A's next polls rebalance back to the full topic
        tb.stop()
        for _ in range(200):
            ta.poll()
            if set(ta._membership["assignment"]["coord"]) == {0, 1, 2, 3}:
                break
            _time.sleep(0.02)
        assert ta._membership["assignment"]["coord"] == [0, 1, 2, 3]
        ta.stop()
        prod.close()


def test_timestamp_starting_offsets(tmp_path):
    """starting='timestamp:<ms>' time-travels: the tailer begins at the
    first record at/after the instant (ListOffsets by timestamp), skips
    older history, and commits the resolved point so restarts hold it."""
    from hstream_spark.sources.connectors import KafkaIngestTailer
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("tt")
        c = KafkaClient(broker.bootstrap)
        c.produce("tt", [(None, b'{"i": %d}' % i, 1000 * i) for i in range(10)])
        # raw client: first offset at/after t=5000 is record 5
        assert c.list_offsets("tt", 0, 5000) == 5
        # past every record: real brokers answer -1 ('not found')
        assert c.list_offsets("tt", 0, 99999) == -1
        c.close()
        got = []
        t = KafkaIngestTailer(
            broker.bootstrap, "tt",
            emit=lambda b: got.extend(b) or len(b),
            offsets_path=str(tmp_path / "off.json"),
            starting="timestamp:4500",
        )
        assert t.poll() == 5  # records 5..9 only
        assert [r[0]["i"] for r in got] == [5, 6, 7, 8, 9]
        t.stop()


def test_invalid_starting_position_rejected(tmp_path):
    import pytest

    from hstream_spark.sources.connectors import ConnectorError, KafkaIngestTailer

    with pytest.raises(ConnectorError, match="timestamp:<epoch_ms>"):
        KafkaIngestTailer("h:1", "t", emit=lambda b: 0,
                          offsets_path=str(tmp_path / "o.json"),
                          starting="timestamp:abc")


def _sched_latency_factor(n_threads: int = 6, nominal: float = 0.05) -> float:
    """How oversubscribed is the box right now? Spawn as many threads
    as the churn test uses, each sleeping a known interval; the worst
    observed/nominal ratio measures scheduling delay (≈1.0 idle, >1
    when e.g. a 32-thread Spark job is saturating every core). Protocol
    deadlines scale by this so CPU starvation doesn't masquerade as a
    rebalance-convergence failure. Clamped to [1, 8] — a factor beyond
    8 means the box is unusable and the test should fail loudly rather
    than wait forever."""
    import threading
    import time as _time

    deltas: list = []

    def probe():
        t0 = _time.monotonic()
        _time.sleep(nominal)
        deltas.append(_time.monotonic() - t0)

    ths = [threading.Thread(target=probe) for _ in range(n_threads)]
    t0 = _time.monotonic()
    for t in ths:
        t.start()
    for t in ths:
        t.join()
    worst = max(max(deltas), _time.monotonic() - t0)
    return min(8.0, max(1.0, worst / nominal))


def test_group_membership_converges_under_churn():
    """Membership chaos: three consumers join/leave concurrently for a
    while; afterwards the survivors re-coordinate to ONE generation
    with disjoint assignments covering every partition — the liveness
    and safety property the rebalance barrier must guarantee.

    Deadlines are scaled by a measured scheduling-latency probe and the
    convergence phase retries ONCE with 4× timeouts before failing:
    under a fully loaded box (every core busy with Spark jobs) thread
    starvation can stretch a heartbeat past the rebalance window, which
    is an environment artifact, not a protocol bug."""
    import random
    import threading
    import time as _time

    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    rng = random.Random(42)
    factor = _sched_latency_factor()
    with KafkaStubBroker() as broker:
        broker.rebalance_timeout = 0.4 * factor
        broker.create_topic("chaos", partitions=6)

        class Worker:
            def __init__(self):
                self.client = KafkaClient(broker.bootstrap)
                self.m = None

            def ensure(self):
                mid = ""
                if self.m is not None:
                    code = self.client.heartbeat(
                        "cg", self.m["generation"], self.m["member_id"]
                    )
                    if code == 0:
                        return
                    if code != 25:
                        mid = self.m["member_id"]
                self.m = self.client.join_and_sync("cg", ["chaos"], mid)

            def leave(self):
                if self.m is not None:
                    self.client.leave_group("cg", self.m["member_id"])
                    self.m = None

        workers = [Worker() for _ in range(3)]
        stop = _time.monotonic() + 3.0
        errors: list = []

        def churn(w, seed):
            r = random.Random(seed)
            while _time.monotonic() < stop:
                try:
                    if w.m is not None and r.random() < 0.15:
                        w.leave()
                        _time.sleep(r.uniform(0.05, 0.2))
                    w.ensure()
                except Exception as exc:  # noqa: BLE001
                    errors.append(exc)
                _time.sleep(r.uniform(0.01, 0.06))

        threads = [
            threading.Thread(target=churn, args=(w, i)) for i, w in enumerate(workers)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        # tolerated during the chaos window: timeout-class errors and
        # join_and_sync's "failed to stabilize" (a member exhausting its
        # bounded rejoin attempts while the group is DELIBERATELY being
        # churned and the box may be starved — the next ensure() call
        # recovers). Any other protocol error stays fatal: wrong error
        # codes, bad assignments, etc. are real bugs.
        fatal = [e for e in errors
                 if not isinstance(e, (TimeoutError, ConnectionError))
                 and "failed to stabilize" not in str(e)]
        assert not fatal, fatal[:3]

        # convergence: everyone re-coordinates to one stable generation.
        # ensure() concurrently — a real consumer group's members all
        # run their own loops, and the rebalance barrier needs the
        # cohort to arrive together (sequential one-at-a-time joins
        # would each time out the others out of the group)
        def converged(window: float) -> bool:
            deadline = _time.monotonic() + window
            while _time.monotonic() < deadline:
                ths = [threading.Thread(target=w.ensure) for w in workers]
                for t in ths:
                    t.start()
                for t in ths:
                    t.join(timeout=10)
                gens = {w.m["generation"] for w in workers if w.m}
                if len(gens) == 1 and all(
                    w.m is not None
                    and w.client.heartbeat(
                        "cg", w.m["generation"], w.m["member_id"]
                    ) == 0
                    for w in workers
                ):
                    return True
            return False

        if not converged(15 * factor):
            # one widened retry: a starved heartbeat past the rebalance
            # window is an environment artifact; a group that STILL
            # can't converge with 4× timeouts has a liveness bug
            broker.rebalance_timeout *= 4
            assert converged(30 * factor), "group never converged"
        assert len({w.m["generation"] for w in workers}) == 1
        all_parts: list = []
        for w in workers:
            all_parts.extend(w.m["assignment"].get("chaos", []))
        assert sorted(all_parts) == [0, 1, 2, 3, 4, 5]  # disjoint + covering
        for w in workers:
            w.leave()
            w.client.close()


def test_rebalance_handoff_respects_other_members_offsets(tmp_path):
    """Offset safety across rebalances: (a) a member commits ONLY the
    partitions it advanced — it must not clobber a partition another
    member now owns with its stale position; (b) partitions GAINED in a
    later rebalance resume from the group's broker-committed offsets,
    not from `starting`."""
    import threading
    import time as _time

    from hstream_spark.sources.connectors import KafkaIngestTailer
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("ho", partitions=2)
        prod = KafkaClient(broker.bootstrap)
        for p in (0, 1):
            prod.produce("ho", [(None, b'{"p": %d, "i": 0}' % p, 0)],
                         partition=p)
        got_a: list = []
        got_b: list = []

        def tailer(name, sink):
            return KafkaIngestTailer(
                broker.bootstrap, "ho",
                emit=lambda batch: sink.extend(batch) or len(batch),
                offsets_path=str(tmp_path / f"{name}.json"),
                group_id="gh", coordinated=True,
            )

        ta = tailer("a", got_a)
        assert ta.poll() == 2  # alone: both partitions
        tb = tailer("b", got_b)
        done = threading.Event()
        threading.Thread(
            target=lambda: (tb.poll(), done.set()), daemon=True
        ).start()
        for _ in range(200):
            ta.poll()
            if done.wait(0.02):
                break
        assert done.is_set()
        pa = ta._membership["assignment"]["ho"]
        pb = tb._membership["assignment"]["ho"]
        assert sorted(pa + pb) == [0, 1]
        (p_b,) = pb  # B's partition
        # B advances its partition and commits broker-side
        prod.produce("ho", [(None, b'{"p": %d, "i": 1}' % p_b, 1)],
                     partition=p_b)
        got_b.clear()
        assert tb.poll() == 1
        committed = prod.offset_fetch("gh", "ho", [p_b])[p_b]
        assert committed == 2
        # (a) A's commits (its OWN partition) must not roll B's back
        ta.poll()
        assert prod.offset_fetch("gh", "ho", [p_b])[p_b] == 2
        # (b) B leaves; A regains p_b and must resume from B's commit,
        # ingesting only records B never saw
        tb.stop()
        prod.produce("ho", [(None, b'{"p": %d, "i": 2}' % p_b, 2)],
                     partition=p_b)
        got_a.clear()
        deadline = _time.monotonic() + 10
        while _time.monotonic() < deadline:
            ta.poll()
            if ta._membership["assignment"]["ho"] == [0, 1] and got_a:
                break
            _time.sleep(0.02)
        assert [r[0]["i"] for r in got_a] == [2]  # no replay of B's record
        ta.stop()
        prod.close()


@settings(max_examples=60, deadline=None)
@given(
    n_parts=st.integers(min_value=1, max_value=32),
    n_members=st.integers(min_value=1, max_value=8),
)
def test_range_assignment_properties(n_parts, n_members):
    """Pure range-assignment invariants: every partition assigned
    exactly once, member loads differ by at most one, lexicographically
    earlier members never get fewer partitions."""
    parts = list(range(n_parts))
    mids = sorted(f"m{i}" for i in range(n_members))
    base, extra = divmod(n_parts, n_members)
    pos, got = 0, {}
    for i, mid in enumerate(mids):
        take = base + (1 if i < extra else 0)
        got[mid] = parts[pos:pos + take]
        pos += take
    all_parts = [p for ps in got.values() for p in ps]
    assert sorted(all_parts) == parts
    sizes = [len(got[m]) for m in mids]
    assert max(sizes) - min(sizes) <= 1
    assert sizes == sorted(sizes, reverse=True)


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=30))
def test_parse_starting_position_total(s):
    """The shared parser either returns a valid ListOffsets argument or
    raises ValueError — never crashes, never silently accepts junk."""
    from hstream_spark.sources.kafka_wire import (
        EARLIEST,
        LATEST,
        parse_starting_position,
    )

    try:
        v = parse_starting_position(s)
    except ValueError:
        assert s not in ("earliest", "latest")
        return
    if s == "earliest":
        assert v == EARLIEST
    elif s == "latest":
        assert v == LATEST
    else:
        assert s.startswith("timestamp:") and v >= 0


def test_offset_commit_membership_validation():
    """Real-broker OffsetCommit semantics mirrored by the stub: a
    group-MANAGED member must commit with its current generation and
    member id; a simple-consumer (-1) commit is rejected while the
    group has active members; a stale generation is rejected."""
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("val_t")
        c = KafkaClient(broker.bootstrap)
        try:
            # simple-consumer commit OK while the group is empty/absent
            c.offset_commit("vg", "val_t", {0: 1})
            m = c.join_and_sync("vg", ["val_t"])
            # managed commit with current membership: accepted
            c.offset_commit("vg", "val_t", {0: 5},
                            generation=m["generation"],
                            member_id=m["member_id"])
            assert c.offset_fetch("vg", "val_t", [0]) == {0: 5}
            # simple-consumer commit against the ACTIVE group: rejected
            with pytest.raises(KafkaWireError, match="error code 25"):
                c.offset_commit("vg", "val_t", {0: 9})
            # stale generation: rejected
            with pytest.raises(KafkaWireError, match="error code 22"):
                c.offset_commit("vg", "val_t", {0: 9},
                                generation=m["generation"] - 1,
                                member_id=m["member_id"])
            assert c.offset_fetch("vg", "val_t", [0]) == {0: 5}
            c.leave_group("vg", m["member_id"])
        finally:
            c.close()


def test_timestamp_start_past_log_end_subscribes_at_end(tmp_path):
    """A timestamp later than every record (broker answers -1) must
    subscribe at log-end, not poison the committed position."""
    from hstream_spark.sources.connectors import KafkaIngestTailer
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("tp")
        c = KafkaClient(broker.bootstrap)
        c.produce("tp", [(None, b'{"i": %d}' % i, 1000 * i) for i in range(3)])
        got = []
        t = KafkaIngestTailer(
            broker.bootstrap, "tp",
            emit=lambda b: got.extend(b) or len(b),
            offsets_path=str(tmp_path / "o.json"),
            starting="timestamp:999999",
        )
        assert t.poll() == 0       # history skipped
        assert t.offsets[0] == 3   # committed at log-end, not -1
        c.produce("tp", [(None, b'{"i": 9}', 10**6)])
        c.close()
        assert t.poll() == 1       # only the new record
        assert got[0][0]["i"] == 9
        t.stop()


# ---------------------------------------------------------------------------
# SASL authentication + TLS (SaslHandshake v1 / SaslAuthenticate v0)
# ---------------------------------------------------------------------------


def test_sasl_plain_accept_and_produce_fetch():
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker(sasl_users={"alice": "secret"}) as broker:
        broker.create_topic("auth_t")
        client = KafkaClient(
            broker.bootstrap, sasl_mechanism="PLAIN",
            sasl_username="alice", sasl_password="secret",
        )
        client.produce("auth_t", [(None, b"v1", 1000)])
        recs, hwm = client.fetch("auth_t", 0, 0)
        client.close()
        assert [r[2] for r in recs] == [b"v1"] and hwm == 1


def test_sasl_plain_wrong_password_rejected_with_clear_error():
    import pytest as _pytest

    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient, KafkaWireError

    with KafkaStubBroker(sasl_users={"alice": "secret"}) as broker:
        client = KafkaClient(
            broker.bootstrap, sasl_mechanism="PLAIN",
            sasl_username="alice", sasl_password="WRONG",
        )
        with _pytest.raises(KafkaWireError, match="PLAIN.*alice"):
            client.partitions("auth_t")
        client.close()


def test_sasl_unsupported_mechanism_lists_enabled():
    import pytest as _pytest

    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient, KafkaWireError

    with KafkaStubBroker(
        sasl_users={"alice": "secret"}, sasl_mechanisms=("SCRAM-SHA-256",)
    ) as broker:
        client = KafkaClient(
            broker.bootstrap, sasl_mechanism="PLAIN",
            sasl_username="alice", sasl_password="secret",
        )
        with _pytest.raises(KafkaWireError, match="SCRAM-SHA-256"):
            client.partitions("t")
        client.close()


def test_sasl_scram_sha256_accept_round_trip():
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker(sasl_users={"bob": "hunter2"}) as broker:
        broker.create_topic("scram_t", partitions=2)
        client = KafkaClient(
            broker.bootstrap, sasl_mechanism="SCRAM-SHA-256",
            sasl_username="bob", sasl_password="hunter2",
        )
        client.produce("scram_t", [(None, b"x", 1)], partition=1)
        recs, _hwm = client.fetch("scram_t", 1, 0)
        client.close()
        assert [r[2] for r in recs] == [b"x"]


def test_sasl_scram_wrong_password_rejected():
    import pytest as _pytest

    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient, KafkaWireError

    with KafkaStubBroker(sasl_users={"bob": "hunter2"}) as broker:
        client = KafkaClient(
            broker.bootstrap, sasl_mechanism="SCRAM-SHA-256",
            sasl_username="bob", sasl_password="nope",
        )
        with _pytest.raises(KafkaWireError, match="SCRAM.*bob"):
            client.partitions("t")
        client.close()


def test_sasl_scram_sha512_and_mutual_verification():
    """SCRAM-SHA-512 authenticates AND the client verifies the server
    signature (mutual auth — a broker that doesn't know the password
    cannot fake the final message)."""
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient, ScramClient

    with KafkaStubBroker(sasl_users={"c": "pw"}) as broker:
        broker.create_topic("s512")
        client = KafkaClient(
            broker.bootstrap, sasl_mechanism="SCRAM-SHA-512",
            sasl_username="c", sasl_password="pw",
        )
        assert client.partitions("s512") == [0]
        client.close()
    # unit-level: a forged server-final fails verification
    sc = ScramClient("SCRAM-SHA-256", "u", "p", nonce="cnonce0")
    sc.final_message(b"r=cnonce0srv,s=c2FsdA==,i=4096")
    import pytest as _pytest

    from hstream_spark.sources.kafka_wire import KafkaWireError

    with _pytest.raises(KafkaWireError, match="signature"):
        sc.verify_server_final(b"v=Zm9yZ2Vk")


def test_unauthenticated_client_disconnected_by_sasl_listener():
    import pytest as _pytest

    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient, KafkaWireError

    with KafkaStubBroker(sasl_users={"alice": "secret"}) as broker:
        client = KafkaClient(broker.bootstrap)  # no SASL configured
        with _pytest.raises(KafkaWireError, match="closed"):
            client.partitions("t")
        client.close()


def _self_signed_tls():
    """(server_ctx, cafile_path) via the cryptography lib, or None if
    unavailable — TLS tests gate on it (import-try per environment
    policy)."""
    try:
        import datetime
        import ipaddress
        import tempfile

        from cryptography import x509
        from cryptography.hazmat.primitives import hashes, serialization
        from cryptography.hazmat.primitives.asymmetric import rsa
        from cryptography.x509.oid import NameOID
    except ImportError:
        return None
    import ssl

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    name = x509.Name(
        [x509.NameAttribute(NameOID.COMMON_NAME, "127.0.0.1")]
    )
    now = datetime.datetime(2026, 1, 1)
    cert = (
        x509.CertificateBuilder()
        .subject_name(name).issuer_name(name)
        .public_key(key.public_key())
        .serial_number(x509.random_serial_number())
        .not_valid_before(now)
        .not_valid_after(now + datetime.timedelta(days=3650))
        .add_extension(
            x509.SubjectAlternativeName(
                [x509.IPAddress(ipaddress.ip_address("127.0.0.1"))]
            ),
            critical=False,
        )
        .sign(key, hashes.SHA256())
    )
    d = tempfile.mkdtemp(prefix="kafka_tls_")
    certf, keyf = f"{d}/cert.pem", f"{d}/key.pem"
    with open(certf, "wb") as fh:
        fh.write(cert.public_bytes(serialization.Encoding.PEM))
    with open(keyf, "wb") as fh:
        fh.write(
            key.private_bytes(
                serialization.Encoding.PEM,
                serialization.PrivateFormat.TraditionalOpenSSL,
                serialization.NoEncryption(),
            )
        )
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(certf, keyf)
    return ctx, certf


def test_tls_sasl_e2e_produce_fetch():
    """SASL_SSL — the managed-Kafka default posture: TLS-wrapped
    connection + SCRAM auth, produce/fetch round trip, verified
    against the self-signed CA."""
    import pytest as _pytest

    tls = _self_signed_tls()
    if tls is None:
        _pytest.skip("cryptography lib unavailable for cert generation")
    server_ctx, cafile = tls
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker(
        sasl_users={"alice": "secret"}, tls_context=server_ctx
    ) as broker:
        broker.create_topic("tls_t")
        client = KafkaClient(
            broker.bootstrap, tls=True, tls_cafile=cafile,
            sasl_mechanism="SCRAM-SHA-256",
            sasl_username="alice", sasl_password="secret",
        )
        client.produce("tls_t", [(b"k", b"enc", 7)])
        recs, _ = client.fetch("tls_t", 0, 0)
        client.close()
        assert [(r[1], r[2]) for r in recs] == [(b"k", b"enc")]


def test_tailer_e2e_over_sasl_tls(tmp_path):
    """KafkaIngestTailer over an authenticated TLS connection — the
    round-6 'authenticated e2e tailer run'."""
    import json as _json

    import pytest as _pytest

    tls = _self_signed_tls()
    if tls is None:
        _pytest.skip("cryptography lib unavailable for cert generation")
    server_ctx, cafile = tls
    from hstream_spark.sources.connectors import KafkaIngestTailer
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker(
        sasl_users={"svc": "token"}, tls_context=server_ctx
    ) as broker:
        broker.create_topic("sec_t", partitions=2)
        opts = dict(
            tls=True, tls_cafile=cafile, sasl_mechanism="PLAIN",
            sasl_username="svc", sasl_password="token",
        )
        prod = KafkaClient(broker.bootstrap, **opts)
        prod.produce(
            "sec_t", [(None, _json.dumps({"i": i}).encode(), i) for i in range(3)],
            partition=0,
        )
        prod.produce("sec_t", [(None, b'{"i": 9}', 9)], partition=1)
        prod.close()
        got = []
        t = KafkaIngestTailer(
            broker.bootstrap, "sec_t",
            emit=lambda b: got.extend(b) or len(b),
            offsets_path=str(tmp_path / "off.json"),
            group_id="secg", coordinated=True,
            client_options=opts,
        )
        assert t.poll() == 4
        assert sorted(r[0]["i"] for r in got) == [0, 1, 2, 9]
        t.stop()


def test_kafka_sink_passes_sasl_options():
    from hstream_spark.sources.connectors import kafka_client_options

    opts = kafka_client_options({
        "kafka_sasl_mechanism": "PLAIN",
        "kafka_sasl_username": "u", "kafka_sasl_password": "p",
        "kafka_tls": "true", "kafka_tls_verify": "false",
    })
    assert opts == {
        "sasl_mechanism": "PLAIN", "sasl_username": "u",
        "sasl_password": "p", "tls": True, "tls_verify": False,
    }
    import pytest as _pytest

    from hstream_spark.sources.connectors import ConnectorError

    with _pytest.raises(ConnectorError, match="SASL_USERNAME"):
        kafka_client_options({"sasl_mechanism": "SCRAM-SHA-256"})


# ---------------------------------------------------------------------------
# multi-partition fetch batching + session-timeout derivation
# ---------------------------------------------------------------------------


def test_fetch_records_multi_one_request_carries_all_partitions():
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("mp", partitions=3)
        client = KafkaClient(broker.bootstrap)
        for p in range(3):
            client.produce(
                "mp", [(None, f"v{p}{i}".encode(), i) for i in range(2)],
                partition=p,
            )
        broker.fetch_request_partitions.clear()
        res = client.fetch_records_multi("mp", {0: 0, 1: 0, 2: 1})
        client.close()
        # ONE Fetch request carried all three partitions
        assert broker.fetch_request_partitions == [3]
        assert sorted(res) == [0, 1, 2]
        assert [r[2] for r in res[0][0]] == [b"v00", b"v01"]
        assert [r[2] for r in res[2][0]] == [b"v21"]  # from offset 1
        assert all(hwm == 2 for (_r, hwm, _n) in res.values())


def test_tailer_poll_uses_batched_fetch(tmp_path):
    from hstream_spark.sources.connectors import KafkaIngestTailer
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("bt", partitions=4)
        client = KafkaClient(broker.bootstrap)
        for p in range(4):
            client.produce("bt", [(None, b'{"p": %d}' % p, p)], partition=p)
        client.close()
        broker.fetch_request_partitions.clear()
        t = KafkaIngestTailer(
            broker.bootstrap, "bt", emit=lambda b: len(b),
            offsets_path=str(tmp_path / "off.json"),
        )
        assert t.poll() == 4
        t.stop()
        # the drain batched all 4 partitions per request, never 1-by-1
        assert broker.fetch_request_partitions
        assert max(broker.fetch_request_partitions) == 4


def test_session_timeout_derives_from_poll_interval(tmp_path):
    """A 15 s poll interval must not let the group session (10 s
    default) expire between polls: the tailer derives 3× the interval
    and the broker sees it in JoinGroup."""
    from hstream_spark.sources.connectors import KafkaIngestTailer
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("st", partitions=1)
        client = KafkaClient(broker.bootstrap)
        client.produce("st", [(None, b'{"a": 1}', 1)])
        client.close()
        t = KafkaIngestTailer(
            broker.bootstrap, "st", emit=lambda b: len(b),
            offsets_path=str(tmp_path / "off.json"),
            poll_interval=15.0, group_id="stg", coordinated=True,
        )
        assert t.session_timeout_ms == 45000
        assert t.poll() == 1
        t.stop()
        assert broker.last_session_timeout_ms == 45000


def test_list_offsets_multi_and_batched_lag(tmp_path):
    from hstream_spark.sources.connectors import KafkaIngestTailer
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import EARLIEST, LATEST, KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("lo", partitions=3)
        client = KafkaClient(broker.bootstrap)
        for p in range(3):
            client.produce(
                "lo", [(None, b"x", i) for i in range(p + 1)], partition=p
            )
        lo = client.list_offsets_multi("lo", {p: EARLIEST for p in range(3)})
        hi = client.list_offsets_multi("lo", {p: LATEST for p in range(3)})
        assert lo == {0: 0, 1: 0, 2: 0}
        assert hi == {0: 1, 1: 2, 2: 3}
        client.close()
        t = KafkaIngestTailer(
            broker.bootstrap, "lo", emit=lambda b: len(b),
            offsets_path=str(tmp_path / "off.json"),
        )
        lag0 = t.lag()
        assert {p: v["lag"] for p, v in lag0.items()} == {0: 1, 1: 2, 2: 3}
        assert t.poll() == 6
        lag1 = t.lag()
        assert all(v["lag"] == 0 for v in lag1.values())
        t.stop()


def test_kafka_readstream_maps_sasl_to_connector_options():
    """The jar-path option mapping is pure dict logic — verify the
    kafka.* options it would set without needing the jar."""
    from hstream_spark.sources.kafka_wire import kafka_readstream

    class _Opt:
        def __init__(self):
            self.opts = {}
        def option(self, k, v):
            self.opts[k] = v
            return self
        def load(self):
            raise RuntimeError("no jar in test")

    class _RS:
        def __init__(self):
            self.r = _Opt()
        def format(self, f):
            assert f == "kafka"
            return self.r

    class _Spark:
        readStream = _RS()

    sp = _Spark()
    import pytest as _pytest

    from hstream_spark.sources.kafka_wire import KafkaWireError

    with _pytest.raises(KafkaWireError, match="spark-sql-kafka"):
        kafka_readstream(
            sp, "t", "h:9092",
            client_options={
                "sasl_mechanism": "SCRAM-SHA-256", "sasl_username": "u",
                "sasl_password": "p", "tls": True, "tls_cafile": "/ca.pem",
            },
        )
    o = sp.readStream.r.opts
    assert o["kafka.security.protocol"] == "SASL_SSL"
    assert o["kafka.sasl.mechanism"] == "SCRAM-SHA-256"
    assert "ScramLoginModule" in o["kafka.sasl.jaas.config"]
    assert o["kafka.ssl.truststore.type"] == "PEM"


def test_scram_rfc_test_vectors():
    """Pin ScramClient against the OFFICIAL example conversations:
    RFC 5802 §5 (SCRAM-SHA-1, user 'user' / pass 'pencil') and
    RFC 7677 §3 (SCRAM-SHA-256). Client nonce forced to the RFC's;
    the proof and the expected server signature must match the
    published bytes exactly."""
    from hstream_spark.sources.kafka_wire import ScramClient

    # RFC 7677 §3 example
    sc = ScramClient(
        "SCRAM-SHA-256", "user", "pencil", nonce="rOprNGfwEbeRWgbNEkqO"
    )
    assert sc.first_message() == b"n,,n=user,r=rOprNGfwEbeRWgbNEkqO"
    server_first = (
        b"r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
        b"s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096"
    )
    final = sc.final_message(server_first)
    assert final == (
        b"c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
        b"p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ="
    )
    sc.verify_server_final(
        b"v=6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4="
    )  # must not raise

    # RFC 5802 §5 example (SHA-1)
    s1 = ScramClient(
        "SCRAM-SHA-1", "user", "pencil", nonce="fyko+d2lbbFgONRv9qkxdawL"
    )
    assert s1.first_message() == b"n,,n=user,r=fyko+d2lbbFgONRv9qkxdawL"
    sf1 = (
        b"r=fyko+d2lbbFgONRv9qkxdawL3rfcNHYJY1ZVvWVs7j,"
        b"s=QSXCR+Q6sek8bf92,i=4096"
    )
    f1 = s1.final_message(sf1)
    assert f1 == (
        b"c=biws,r=fyko+d2lbbFgONRv9qkxdawL3rfcNHYJY1ZVvWVs7j,"
        b"p=v0X8v3Bz2T0CJGbJQyF0X+HI4Ts="
    )
    s1.verify_server_final(b"v=rmF9pqV8S7suAoZWja4dJRkFsKQ=")


def test_tailer_auto_offset_reset_after_retention(tmp_path):
    """A committed offset that retention aged out must not wedge the
    tailer: the fetch answers OFFSET_OUT_OF_RANGE and the tailer
    auto-resets per its starting policy, logging the loss."""
    from hstream_spark.sources.connectors import KafkaIngestTailer
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient

    with KafkaStubBroker() as broker:
        broker.create_topic("ret_t")
        client = KafkaClient(broker.bootstrap)
        client.produce(
            "ret_t", [(None, b'{"i": %d}' % i, i) for i in range(6)]
        )
        got = []
        t = KafkaIngestTailer(
            broker.bootstrap, "ret_t",
            emit=lambda b: got.extend(b) or len(b),
            offsets_path=str(tmp_path / "off.json"),
        )
        assert t.poll() == 6
        # retention drops everything; four new records arrive ABOVE
        # the old range but the tailer's committed offset (6) is now
        # below the log start (10)... simulate the harsher case: the
        # log truncates to offset 8 with records 8..9 retained
        client.produce(
            "ret_t", [(None, b'{"i": %d}' % i, i) for i in range(6, 10)]
        )
        broker._topics["ret_t"][0].truncate_before(8)
        # committed position 6 < log_start 8 -> OFFSET_OUT_OF_RANGE ->
        # earliest policy resets to 8 and ingests the retained records
        assert t.poll() == 2
        assert [r[0]["i"] for r in got[-2:]] == [8, 9]
        assert t.offsets[0] == 10
        assert t.poll() == 0  # stable afterwards
        client.close()
        t.stop()


def test_saslprep_unifies_unicode_forms_and_rejects_prohibited():
    """RFC 4013: composed and decomposed forms of the same password
    authenticate interchangeably (NFKC); control characters and empty
    results are rejected; ASCII is untouched."""
    import pytest as _pytest

    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import (
        KafkaClient,
        KafkaWireError,
        saslprep,
    )

    composed = "p\u00e4ss"              # a-umlaut as one code point
    decomposed = "pa\u0308ss"           # a + combining diaeresis
    assert saslprep(composed) == saslprep(decomposed)
    assert saslprep("I\u00adX") == "IX"   # soft hyphen maps to nothing
    assert saslprep("a\u00a0b") == "a b"  # non-ASCII space -> SPACE
    assert saslprep("plain") == "plain"
    with _pytest.raises(KafkaWireError, match="prohibited"):
        saslprep("bell\u0007\u00e9")     # control char (non-ASCII path)
    # end to end: broker stores the composed form, client presents the
    # decomposed form — SCRAM still succeeds
    with KafkaStubBroker(sasl_users={"u": composed}) as broker:
        broker.create_topic("nfc")
        client = KafkaClient(
            broker.bootstrap, sasl_mechanism="SCRAM-SHA-256",
            sasl_username="u", sasl_password=decomposed,
        )
        assert client.partitions("nfc") == [0]
        client.close()


def _self_signed_pair(cn: str):
    """(certfile, keyfile) for a self-signed cert with the given CN, or
    None if the cryptography lib is unavailable (import-try gate)."""
    try:
        import datetime
        import tempfile

        from cryptography import x509
        from cryptography.hazmat.primitives import hashes, serialization
        from cryptography.hazmat.primitives.asymmetric import rsa
        from cryptography.x509.oid import NameOID
    except ImportError:
        return None

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    name = x509.Name([x509.NameAttribute(NameOID.COMMON_NAME, cn)])
    now = datetime.datetime(2026, 1, 1)
    cert = (
        x509.CertificateBuilder()
        .subject_name(name).issuer_name(name)
        .public_key(key.public_key())
        .serial_number(x509.random_serial_number())
        .not_valid_before(now)
        .not_valid_after(now + datetime.timedelta(days=3650))
        .sign(key, hashes.SHA256())
    )
    d = tempfile.mkdtemp(prefix="kafka_mtls_")
    certf, keyf = f"{d}/{cn}.pem", f"{d}/{cn}.key"
    with open(certf, "wb") as fh:
        fh.write(cert.public_bytes(serialization.Encoding.PEM))
    with open(keyf, "wb") as fh:
        fh.write(
            key.private_bytes(
                serialization.Encoding.PEM,
                serialization.PrivateFormat.TraditionalOpenSSL,
                serialization.NoEncryption(),
            )
        )
    return certf, keyf


def test_mtls_client_certificate_accept_and_reject():
    """Mutual TLS: a broker with ssl.client.auth=required accepts the
    client that presents a trusted certificate and rejects the one that
    doesn't — produce/fetch round trip over the accepted connection."""
    import ssl

    import pytest as _pytest

    tls = _self_signed_tls()
    pair = _self_signed_pair("hstream-client")
    if tls is None or pair is None:
        _pytest.skip("cryptography lib unavailable for cert generation")
    server_ctx, cafile = tls
    ccert, ckey = pair
    # the stub broker mandates a client certificate (the self-signed
    # client cert is its own trust root)
    server_ctx.load_verify_locations(ccert)
    server_ctx.verify_mode = ssl.CERT_REQUIRED
    from hstream_spark.sources.kafka_stub import KafkaStubBroker
    from hstream_spark.sources.kafka_wire import KafkaClient, KafkaWireError

    with KafkaStubBroker(tls_context=server_ctx) as broker:
        broker.create_topic("mt")
        client = KafkaClient(
            broker.bootstrap, tls=True, tls_cafile=cafile,
            tls_certfile=ccert, tls_keyfile=ckey,
        )
        client.produce("mt", [(b"k", b"v", 1)])
        recs, hwm = client.fetch("mt", 0, 0)
        client.close()
        assert hwm == 1 and recs[0][1:3] == (b"k", b"v")
        # no client certificate: the broker aborts the handshake
        bad = KafkaClient(broker.bootstrap, tls=True, tls_cafile=cafile)
        with _pytest.raises(KafkaWireError):
            bad.partitions("mt")
        bad.close()


def test_mtls_option_validation():
    """keyfile without certfile and a missing certfile both fail at
    CREATE-time option extraction, not at the first poll."""
    import pytest as _pytest

    from hstream_spark.sources.connectors import (
        ConnectorError,
        kafka_client_options,
    )
    from hstream_spark.sources.kafka_wire import KafkaClient, KafkaWireError

    with _pytest.raises(ConnectorError, match="KAFKA_TLS_CERTFILE"):
        kafka_client_options({"kafka_tls_keyfile": "/k.pem"})
    with _pytest.raises(ConnectorError, match="does not exist"):
        kafka_client_options({"kafka_tls_certfile": "/nope/cert.pem"})
    with _pytest.raises(KafkaWireError, match="tls_certfile"):
        KafkaClient("h:9092", tls_keyfile="/k.pem")
    pair = _self_signed_pair("opt-client")
    if pair is None:
        _pytest.skip("cryptography lib unavailable for cert generation")
    certf, keyf = pair
    out = kafka_client_options({
        "kafka_tls_certfile": certf, "kafka_tls_keyfile": keyf,
    })
    assert out == {"tls_certfile": certf, "tls_keyfile": keyf, "tls": True}


def test_mtls_readstream_option_mapping():
    """The jar path maps a cert/key pair onto Kafka's PEM keystore
    options. A split pair bundles into a 0600 temp PEM passed by
    LOCATION — key CONTENT must never enter a source option, since
    Spark's default redaction regex doesn't match ssl.keystore.key and
    options render in explain/SQL-tab/event-log surfaces."""
    import pytest as _pytest

    from hstream_spark.sources.kafka_wire import KafkaWireError, kafka_readstream

    pair = _self_signed_pair("rs-client")
    if pair is None:
        _pytest.skip("cryptography lib unavailable for cert generation")
    certf, keyf = pair

    class _Opt:
        def __init__(self):
            self.opts = {}
        def option(self, k, v):
            self.opts[k] = v
            return self
        def load(self):
            raise RuntimeError("no jar in test")

    class _RS:
        def __init__(self):
            self.r = _Opt()
        def format(self, f):
            return self.r

    class _Spark:
        readStream = _RS()

    sp = _Spark()
    with _pytest.raises(KafkaWireError, match="spark-sql-kafka"):
        kafka_readstream(
            sp, "t", "h:9092",
            client_options={
                "tls": True, "tls_certfile": certf, "tls_keyfile": keyf,
            },
        )
    o = sp.readStream.r.opts
    assert o["kafka.security.protocol"] == "SSL"
    assert o["kafka.ssl.keystore.type"] == "PEM"
    # no PEM content (especially not the private key) in any option
    assert all("PRIVATE KEY" not in str(v) for v in o.values())
    assert "kafka.ssl.keystore.key" not in o
    assert "kafka.ssl.keystore.certificate.chain" not in o
    bundle = o["kafka.ssl.keystore.location"]
    assert bundle != certf and bundle.endswith(".pem")
    import os as _os
    import stat as _stat

    assert _stat.S_IMODE(_os.stat(bundle).st_mode) == 0o600
    content = open(bundle).read()
    assert "BEGIN CERTIFICATE" in content and "PRIVATE KEY" in content

    sp2 = _Spark()
    with _pytest.raises(KafkaWireError, match="spark-sql-kafka"):
        kafka_readstream(
            sp2, "t", "h:9092",
            client_options={"tls": True, "tls_certfile": certf},
        )
    assert sp2.readStream.r.opts["kafka.ssl.keystore.location"] == certf

def test_mtls_bundle_deduped_and_private_dir():
    """Repeated streams with the same (cert, key) pair reuse ONE bundle
    (no per-call temp-file leak), and the bundle lives inside a
    process-private 0700 dir so a crashed process leaves the key
    unreadable to other users rather than world-listable in /tmp."""
    import os as _os
    import stat as _stat

    import pytest as _pytest

    from hstream_spark.sources.kafka_wire import _client_cert_bundle

    pair = _self_signed_pair("dedupe-client")
    if pair is None:
        _pytest.skip("cryptography lib unavailable for cert generation")
    certf, keyf = pair

    b1 = _client_cert_bundle(certf, keyf)
    b2 = _client_cert_bundle(certf, keyf)
    assert b1 == b2  # deduped per (cert, key) pair
    d = _os.path.dirname(b1)
    assert _stat.S_IMODE(_os.stat(d).st_mode) == 0o700
    assert _stat.S_IMODE(_os.stat(b1).st_mode) == 0o600

    # a DIFFERENT pair gets its own bundle in the same private dir
    pair2 = _self_signed_pair("dedupe-client-2")
    assert pair2 is not None
    b3 = _client_cert_bundle(*pair2)
    assert b3 != b1 and _os.path.dirname(b3) == d

    # deleted bundle is rebuilt rather than returned stale
    _os.unlink(b1)
    b4 = _client_cert_bundle(certf, keyf)
    assert _os.path.exists(b4)


def test_leave_during_join_barrier_keeps_pending_joiner():
    """Regression (round 8): a member leaving while another is blocked
    in the join barrier must NOT drop the joiner from the rebalance
    cohort. The old code wiped `pending` on leave, so a lone waiter
    completed an EMPTY generation after the deadline — min() over no
    members killed the broker's connection thread, surfacing to clients
    as 'connection closed mid-response' under churn."""
    import threading
    import time as _time

    from hstream_spark.sources.kafka_stub import _GroupState

    g = _GroupState(rebalance_timeout=0.3)
    # A is the sole stable member of generation 1
    gen, a_id, leader, members = g.join("", b"ma")
    assert gen == 1 and members == {a_id: b"ma"}

    result: dict = {}

    def join_b():
        result["out"] = g.join("", b"mb")

    t = threading.Thread(target=join_b)
    t.start()
    # wait until B is actually inside the barrier (registered pending)
    deadline = _time.monotonic() + 2
    while _time.monotonic() < deadline:
        with g.cond:
            if any(m != a_id for m in g.pending):
                break
        _time.sleep(0.01)
    g.leave(a_id)  # A departs while B waits
    t.join(timeout=5)
    assert not t.is_alive(), "joiner never completed the rebalance"
    gen_b, b_id, leader_b, members_b = result["out"]
    # B completed a generation that CONTAINS B and elected B leader
    assert b_id in members_b and leader_b == b_id
    assert gen_b == 2
    # and the group is functional: B can sync and heartbeat
    code, _ = g.sync(gen_b, b_id, {b_id: b"assign"})
    assert code == 0
    assert g.beat(gen_b, b_id) == 0
