"""Protocol-level tests for the stdlib Kafka wire client
(intake_spark/wire.py): CRC32C pinned by the RFC 3720 §B.4 PUBLISHED
vectors (not self-agreement), record-batch-v2 round-trips under all
five codecs (snappy cross-verified against pyarrow's independent
implementation), and full client↔broker sessions against LoopbackKafka
speaking real ApiVersions/Metadata/ListOffsets/Fetch bytes over
127.0.0.1 sockets — including SparkKafkaBatch's executor-side
distributed fetch fallback (no Kafka connector jar in this
environment)."""

from __future__ import annotations

import struct

import pytest

from intake_spark.compress import crc32c
from intake_spark.loopback import LoopbackKafka
from intake_spark.wire import (
    KafkaWireClient,
    _xxh32,
    decode_record_batches,
    encode_message_set,
    encode_record_batch,
)

RECS = [
    {"key": b"k0", "value": b"v0", "headers": [("h", b"x"), ("n", None)]},
    {"key": None, "value": b"v1", "timestamp_delta": 5},
    {"key": b"k2", "value": None},
]


# --------------------------------------------------------------------------
# CRC32C: the published RFC 3720 B.4 vectors pin the implementation
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "data,expect",
    [
        (b"123456789", 0xE3069283),  # the classic check value
        (bytes(32), 0x8A9136AA),
        (b"\xff" * 32, 0x62A8AB43),
        (bytes(range(32)), 0x46DD794E),
        (bytes(range(31, -1, -1)), 0x113FDB5C),
    ],
)
def test_crc32c_rfc3720_vectors(data, expect):
    assert crc32c(data) == expect


def test_crc32c_incremental_matches_oneshot():
    # split points exercise both the slice-by-8 loop and the byte tail
    data = bytes(range(256)) * 3 + b"tail"
    whole = crc32c(data)
    for cut in (0, 1, 7, 8, 9, 64, len(data) - 1):
        assert crc32c(data[cut:], crc32c(data[:cut])) == whole


# --------------------------------------------------------------------------
# record batch v2 codec
# --------------------------------------------------------------------------


@pytest.mark.parametrize("codec", ["none", "gzip", "snappy", "lz4", "zstd"])
def test_record_batch_roundtrip(codec):
    buf = encode_record_batch(
        RECS, base_offset=100, base_timestamp=1_700_000_000_000,
        compression=codec,
    )
    out = list(decode_record_batches(buf))
    assert [r["offset"] for r in out] == [100, 101, 102]
    assert out[0]["key"] == b"k0" and out[0]["value"] == b"v0"
    assert out[0]["headers"] == [("h", b"x"), ("n", None)]
    assert out[1]["key"] is None and out[2]["value"] is None
    assert out[1]["timestamp"] == 1_700_000_000_005


def test_snappy_batch_decodable_by_independent_codec():
    """The xerial-framed snappy payload must be raw-snappy blocks an
    INDEPENDENT implementation (pyarrow's bundled snappy) can decode —
    guarding against a symmetric misreading of the framing."""
    pa = pytest.importorskip("pyarrow")
    buf = encode_record_batch(RECS, compression="snappy")
    payload = buf[61:]  # after the 61-byte v2 header: xerial stream
    assert payload[:8] == b"\x82SNAPPY\x00"
    version, compat = struct.unpack_from(">ii", payload, 8)
    assert (version, compat) == (1, 1)
    (blk_len,) = struct.unpack_from(">i", payload, 16)
    blk = payload[20 : 20 + blk_len]
    plain = encode_record_batch(RECS, compression="none")[61:]
    assert (
        pa.Codec("snappy").decompress(
            blk, decompressed_size=len(plain), asbytes=True
        )
        == plain
    )


def test_lz4_zstd_batches_are_real_frames():
    """lz4/zstd payloads must be self-describing frames (what Kafka
    writes), not raw blocks: check the public frame magics."""
    lz4 = encode_record_batch(RECS, compression="lz4")[61:]
    assert lz4[:4] == b"\x04\x22\x4d\x18"  # LZ4 frame magic
    zstd = encode_record_batch(RECS, compression="zstd")[61:]
    assert zstd[:4] == b"\x28\xb5\x2f\xfd"  # zstd frame magic


def test_corrupt_batch_crc_raises():
    buf = bytearray(encode_record_batch(RECS))
    buf[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC32C"):
        list(decode_record_batches(bytes(buf)))


def test_truncated_trailing_batch_discarded():
    two = encode_record_batch(RECS[:1]) + encode_record_batch(
        RECS[:2], base_offset=1
    )
    assert len(list(decode_record_batches(two[:-3]))) == 1
    assert len(list(decode_record_batches(two))) == 3


def test_control_batch_skipped():
    """Attributes bit 5 marks transaction-marker batches: bookkeeping,
    not data — consumers skip them."""
    ctl = bytearray(encode_record_batch([{"key": b"\x00\x00", "value": b""}]))
    # set the control bit in attributes (offset 21), then re-CRC
    ctl[22] |= 0x20
    (new_crc,) = (crc32c(bytes(ctl[21:])),)
    ctl[17:21] = struct.pack(">I", new_crc)
    data = encode_record_batch(RECS, base_offset=10)
    assert [r["offset"] for r in decode_record_batches(bytes(ctl) + data)] \
        == [10, 11, 12]


def test_future_magic_raises():
    buf = bytearray(encode_record_batch(RECS))
    buf[16] = 3  # a format newer than anything published
    with pytest.raises(ValueError, match="unknown magic"):
        list(decode_record_batches(bytes(buf)))


# --------------------------------------------------------------------------
# legacy MessageSet (message format v0/v1, pre-0.11 brokers)
# --------------------------------------------------------------------------


LEGACY_RECS = [{k: v for k, v in r.items() if k != "headers"} for r in RECS]


def test_xxh32_published_vectors():
    """Pin the xxHash32 used for the KIP-57 LZ4 header repair to the
    algorithm's published check values, not self-agreement."""
    assert _xxh32(b"") == 0x02CC5D05
    assert _xxh32(b"abc") == 0x32D153FF
    assert _xxh32(b"Hello World") == 0xB1FD16EE


@pytest.mark.parametrize("magic", [0, 1])
@pytest.mark.parametrize("codec", ["none", "gzip", "snappy", "lz4"])
def test_legacy_message_set_roundtrip(magic, codec):
    """v0/v1 sets decode through the same decode_record_batches entry
    point: KIP-31 relative inner offsets (v1), absolute inner offsets
    (v0), v0 timestamps surface as -1."""
    blob = encode_message_set(
        LEGACY_RECS, magic=magic, base_offset=40, compression=codec
    )
    out = list(decode_record_batches(blob))
    assert [r["offset"] for r in out] == [40, 41, 42]
    assert [r["value"] for r in out] == [b"v0", b"v1", None]
    assert [r["key"] for r in out] == [b"k0", None, b"k2"]
    if magic == 0:
        assert all(r["timestamp"] == -1 for r in out)
    else:
        assert out[1]["timestamp"] - out[0]["timestamp"] == 5
    assert all(r["headers"] == [] for r in out)  # no headers pre-v2


def test_legacy_rejects_headers_loudly():
    with pytest.raises(ValueError, match="KIP-82"):
        encode_message_set(RECS, magic=1)


def test_legacy_v0_lz4_broken_header_checksum_repaired():
    """Magic-0 producers wrote the LZ4 frame HC over magic+descriptor
    (the KIP-57 bug); prove the fixture emits the historical broken
    byte (a compliant decompressor rejects it raw) and decode repairs
    it."""
    import pyarrow as pa

    blob = encode_message_set(LEGACY_RECS, magic=0, compression="lz4")
    # the wrapper's value holds the broken frame: locate it by magic
    frame = blob[blob.index(b"\x04\x22\x4d\x18"):]
    with pytest.raises(Exception):
        pa.input_stream(pa.BufferReader(frame), compression="lz4").read()
    assert [r["value"] for r in decode_record_batches(blob)] \
        == [b"v0", b"v1", None]


def test_legacy_v1_log_append_time_overrides_inner():
    blob = encode_message_set(
        LEGACY_RECS, magic=1, compression="gzip", log_append_time=True
    )
    out = list(decode_record_batches(blob))
    assert len({r["timestamp"] for r in out}) == 1  # wrapper ts wins


def test_legacy_crc32_mismatch_raises():
    blob = bytearray(encode_message_set(LEGACY_RECS[:1], magic=1))
    blob[-1] ^= 0xFF  # corrupt the value payload
    with pytest.raises(ValueError, match="CRC32 mismatch"):
        list(decode_record_batches(bytes(blob)))


def test_mixed_format_log_decodes():
    """A mid-upgrade log legally interleaves v2 batches and legacy sets;
    the per-entry magic dispatch handles both in one fetch buffer."""
    legacy = encode_message_set(LEGACY_RECS[:2], magic=1, base_offset=0,
                                compression="snappy")
    v2 = encode_record_batch(RECS[2:], base_offset=2)
    out = list(decode_record_batches(legacy + v2))
    assert [r["offset"] for r in out] == [0, 1, 2]
    assert [r["value"] for r in out] == [b"v0", b"v1", None]


def test_legacy_partial_trailing_message_discarded():
    blob = encode_message_set(LEGACY_RECS, magic=0)  # 3 uncompressed entries
    out_full = list(decode_record_batches(blob))
    out_cut = list(decode_record_batches(blob[:-5]))
    assert len(out_full) == 3 and len(out_cut) == 2


def test_legacy_fetch_through_broker(spark_noop=None):
    """End-to-end: a LoopbackKafka partition whose log is legacy v1
    gzip + v0 plain pages through the client's real Fetch path."""
    srv = LoopbackKafka({"old": [[]]})
    try:
        srv.append("old", 0, [{"key": b"a", "value": b"1"},
                              {"key": b"b", "value": b"2"}],
                   compression="gzip", magic=1)
        srv.append("old", 0, [{"key": b"c", "value": b"3"}], magic=0)
        cli = KafkaWireClient("127.0.0.1", srv.port)
        try:
            recs = list(cli.read_partition("old", 0, 0, 3))
        finally:
            cli.close()
        assert [(r["offset"], r["value"]) for r in recs] == [
            (0, b"1"), (1, b"2"), (2, b"3")
        ]
    finally:
        srv.close()


# --------------------------------------------------------------------------
# client <-> loopback broker sessions (real bytes over 127.0.0.1)
# --------------------------------------------------------------------------


def _broker(compression="none", **kw):
    return LoopbackKafka(
        {
            "events": [
                [  # partition 0: two batches
                    [{"key": b"a", "value": b"1"}, {"key": b"b", "value": b"2"}],
                    [{"key": b"c", "value": b"3"}],
                ],
                [[{"key": b"d", "value": b"4"}]],  # partition 1
            ]
        },
        compression=compression,
        **kw,
    )


def test_client_session_metadata_offsets_fetch():
    srv = _broker(compression="gzip")
    cli = KafkaWireClient("127.0.0.1", srv.port)
    try:
        vers = cli.api_versions()
        assert vers[1] == (0, 4)
        brokers, parts = cli.metadata("events")
        assert parts == {0: 0, 1: 0}
        assert brokers[0] == ("127.0.0.1", srv.port)
        assert cli.list_offsets("events", 0, -2) == 0
        assert cli.list_offsets("events", 0, -1) == 3
        recs = list(cli.read_partition("events", 0, 0, 3))
        assert [(r["offset"], r["key"], r["value"]) for r in recs] == [
            (0, b"a", b"1"), (1, b"b", b"2"), (2, b"c", b"3")
        ]
    finally:
        cli.close()
    assert ("metadata", ("events",)) in srv.requests


def test_fetch_paging_under_max_bytes():
    """A partition max_bytes smaller than two batches must force a
    second Fetch round trip (the broker returns at least one batch —
    Kafka's progress guarantee)."""
    srv = _broker()
    cli = KafkaWireClient("127.0.0.1", srv.port)
    try:
        recs = list(cli.read_partition("events", 0, 0, 3, max_bytes=60))
        assert [r["offset"] for r in recs] == [0, 1, 2]
    finally:
        cli.close()
    fetches = [r for r in srv.requests if r[0] == "fetch"]
    assert len(fetches) >= 2 and fetches[1][3] > fetches[0][3]


def test_fetch_mid_batch_offset_skips_earlier_records():
    srv = _broker()
    cli = KafkaWireClient("127.0.0.1", srv.port)
    try:
        recs = list(cli.read_partition("events", 0, 1, 3))
        assert [r["offset"] for r in recs] == [1, 2]
    finally:
        cli.close()


def test_unknown_topic_raises():
    srv = _broker()
    cli = KafkaWireClient("127.0.0.1", srv.port)
    try:
        with pytest.raises(ValueError, match="unknown topic"):
            cli.metadata("nope")
    finally:
        cli.close()


# --------------------------------------------------------------------------
# SparkKafkaBatch: distributed wire fallback (no connector jar here)
# --------------------------------------------------------------------------


def _spark_broker():
    return LoopbackKafka(
        {
            "events": [
                [[{"key": str(i).encode(), "value": str(i * i).encode()}
                  for i in range(10)],
                 [{"key": str(i).encode(), "value": str(i * i).encode()}
                  for i in range(10, 25)]],
                [[{"key": str(i).encode(), "value": str(i * i).encode()}
                  for i in range(25, 40)]],
                [],  # empty partition: no task emitted
            ]
        },
        compression="zstd",
        max_conns=32,
    )


def test_spark_kafka_batch_wire_fallback(spark):
    from intake_spark import datatypes as dt
    from intake_spark.readers import SparkKafkaBatch

    srv = _spark_broker()
    rdr = SparkKafkaBatch(
        data=dt.KafkaTopic(f"127.0.0.1:{srv.port}", topic="events")
    )
    df = rdr.read(spark=spark)
    assert df.schema.simpleString() == (
        "struct<key:binary,value:binary,topic:string,partition:int,"
        "offset:bigint,timestamp:timestamp,timestampType:int>"
    )
    rows = df.orderBy("partition", "offset").collect()
    assert len(rows) == 40
    assert bytes(rows[0]["key"]) == b"0" and bytes(rows[0]["value"]) == b"0"
    assert rows[24]["partition"] == 0 and rows[24]["offset"] == 24
    assert rows[-1]["partition"] == 1
    assert int(bytes(rows[-1]["value"])) == 39 * 39
    # the fetch loops really ran against the broker (executor tasks)
    assert any(r[0] == "fetch" for r in srv.requests)


def test_spark_kafka_batch_explicit_offsets(spark):
    import json

    from intake_spark import datatypes as dt
    from intake_spark.readers import SparkKafkaBatch

    srv = _spark_broker()
    rdr = SparkKafkaBatch(
        data=dt.KafkaTopic(f"127.0.0.1:{srv.port}", topic="events")
    )
    df = rdr.read(
        spark=spark,
        starting_offsets=json.dumps({"events": {"0": 5, "1": 0}}),
        ending_offsets=json.dumps({"events": {"0": 12, "1": 3}}),
    )
    rows = df.orderBy("partition", "offset").collect()
    assert [r["offset"] for r in rows if r["partition"] == 0] == list(
        range(5, 12)
    )
    assert [r["offset"] for r in rows if r["partition"] == 1] == [0, 1, 2]


# --------------------------------------------------------------------------
# KafkaStream: the kafka_wire Python DataSource (Spark 4 API) — streaming
# --------------------------------------------------------------------------


def test_kafka_stream_wire_and_checkpoint_resume(spark, tmp_path):
    """Structured Streaming over the wire source: run 1 (availableNow)
    drains the seeded log; records appended afterwards are picked up by
    a SECOND run resuming from the same checkpoint — proving the
    microbatch offsets round-trip through the streaming checkpoint
    exactly like the JVM connector's."""
    from intake_spark import datatypes as dt
    from intake_spark.streaming import KafkaStream

    srv = LoopbackKafka(
        {"events": [
            [[{"key": b"a", "value": b"1"}, {"key": b"b", "value": b"2"}]],
            [[{"key": b"c", "value": b"3"}]],
        ]},
        max_conns=None,  # offset polls per microbatch: count unknown
    )
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def run_once():
        sdf = KafkaStream(
            data=dt.KafkaTopic(f"127.0.0.1:{srv.port}", topic="events")
        ).read(spark=spark, starting_offsets="earliest")
        q = (
            sdf.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(180)

    try:
        run_once()
        r1 = sorted(
            (r["partition"], r["offset"], bytes(r["value"]))
            for r in spark.read.parquet(out).collect()
        )
        assert r1 == [(0, 0, b"1"), (0, 1, b"2"), (1, 0, b"3")]

        srv.append("events", 0, [{"key": b"x", "value": b"9"}],
                   compression="gzip")
        srv.append("events", 1, [{"key": b"y", "value": b"8"}])
        run_once()
        r2 = sorted(
            (r["partition"], r["offset"], bytes(r["value"]))
            for r in spark.read.parquet(out).collect()
        )
        # exactly the appended records, once each — no re-read, no loss
        assert r2 == [(0, 0, b"1"), (0, 1, b"2"), (0, 2, b"9"),
                      (1, 0, b"3"), (1, 1, b"8")]
    finally:
        srv.close()


def test_kafka_wire_datasource_batch_format(spark):
    """spark.read.format('kafka_wire') works directly (not just through
    the reader), with explicit JSON offsets."""
    import json

    from intake_spark.kafka_source import register_kafka_wire

    srv = _spark_broker()
    try:
        register_kafka_wire(spark)
        df = (
            spark.read.format("kafka_wire")
            .option("kafka.bootstrap.servers", f"127.0.0.1:{srv.port}")
            .option("subscribe", "events")
            .option("startingOffsets",
                    json.dumps({"events": {"0": 5, "1": 0}}))
            .option("endingOffsets",
                    json.dumps({"events": {"0": 12, "1": 3}}))
            .load()
        )
        rows = df.orderBy("partition", "offset").collect()
        assert [r["offset"] for r in rows if r["partition"] == 0] == list(
            range(5, 12)
        )
        assert [r["offset"] for r in rows if r["partition"] == 1] == [0, 1, 2]
    finally:
        srv.close()


def test_new_partition_added_mid_stream_read_from_earliest(spark, tmp_path):
    """A partition created after the stream starts must be read from its
    beginning (JVM connector behavior), not silently skipped because the
    checkpointed start offsets predate it."""
    from intake_spark import datatypes as dt
    from intake_spark.streaming import KafkaStream

    srv = LoopbackKafka(
        {"grow": [[[{"key": b"a", "value": b"1"}]]]}, max_conns=None
    )
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def run_once():
        sdf = KafkaStream(
            data=dt.KafkaTopic(f"127.0.0.1:{srv.port}", topic="grow")
        ).read(spark=spark, starting_offsets="earliest")
        q = (
            sdf.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(180)

    try:
        run_once()
        # topic grows a NEW partition with data already in it
        srv.logs["grow"].append([])
        srv.append("grow", 1, [{"key": b"n", "value": b"7"}])
        run_once()
        rows = sorted(
            (r["partition"], r["offset"], bytes(r["value"]))
            for r in spark.read.parquet(out).collect()
        )
        assert rows == [(0, 0, b"1"), (1, 0, b"7")]
    finally:
        srv.close()


def test_kafka_wire_rejects_connector_only_options(spark):
    from intake_spark.kafka_source import register_kafka_wire

    srv = _broker()
    try:
        register_kafka_wire(spark)
        with pytest.raises(Exception, match="kafka_wire does not support"):
            (spark.read.format("kafka_wire")
             .option("kafka.bootstrap.servers", f"127.0.0.1:{srv.port}")
             .option("subscribe", "events")
             .option("failOnDataLoss", "false").load().collect())
    finally:
        srv.close()
