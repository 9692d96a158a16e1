"""The from-scratch Kafka wire-protocol transport (VERDICT r12
missing #3): codec round trips, CRC enforcement, truncated-tail
pagination, and the Spark DataSource's per-partition parallelism —
all over real TCP against the stub broker."""

from __future__ import annotations

import pytest

from event_stream_for_k8s_spark.sources.kafka_wire import (
    KafkaWireClient,
    StubKafkaBroker,
    decode_message_set,
    encode_message_set,
)


@pytest.fixture()
def broker():
    logs = {
        ("docs", 0): [(b"0", b"hello"), (b"4", b"world"), (None, b"nullkey")],
        ("docs", 1): [
            (str(i).encode(), f"v{i}".encode()) for i in range(200)
        ],
    }
    b = StubKafkaBroker(logs).start()
    yield b
    b.stop()


def test_message_set_roundtrip_and_crc():
    entries = [(b"k1", b"v1"), (None, b"no-key"), (b"k3", b"x" * 100)]
    ms = encode_message_set(entries, base_offset=7)
    got = decode_message_set(ms)
    assert got == [(7, b"k1", b"v1"), (8, None, b"no-key"), (9, b"k3", b"x" * 100)]

    # flip one payload byte: the CRC check must catch it
    bad = ms[:20] + bytes([ms[20] ^ 1]) + ms[21:]
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_message_set(bad)

    # a truncated trailing entry is the documented max_bytes cut,
    # not an error — parsing stops before it
    assert decode_message_set(ms[: len(ms) - 5]) == got[:2]


def test_metadata_and_fetch_over_tcp(broker):
    c = KafkaWireClient("127.0.0.1", broker.port)
    try:
        brokers, parts = c.metadata("docs")
        assert brokers == [(0, "127.0.0.1", broker.port)]
        assert parts == [0, 1]
        hw, msgs = c.fetch("docs", 0, 0)
        assert hw == 3
        assert msgs == [
            (0, b"0", b"hello"),
            (1, b"4", b"world"),
            (2, None, b"nullkey"),
        ]
        # resume from a committed offset mid-partition
        _, tail = c.fetch("docs", 0, 2)
        assert tail == [(2, None, b"nullkey")]
        # unknown topic: no partitions in metadata, error code on fetch
        _, none = c.metadata("nope")
        assert none == []
        with pytest.raises(ValueError, match="error code 3"):
            c.fetch("nope", 0, 0)
    finally:
        c.close()


def test_fetch_all_paginates_through_truncated_tails(broker):
    c = KafkaWireClient("127.0.0.1", broker.port)
    try:
        # 200 messages of ~25 bytes each through 256-byte fetches:
        # every response ends in a truncated entry the client must
        # re-request — the real consumer loop
        msgs = c.fetch_all("docs", 1, max_bytes=256)
        assert [o for o, _, _ in msgs] == list(range(200))
        assert msgs[137][2] == b"v137"
    finally:
        c.close()


def test_datasource_one_task_per_partition(spark, broker):
    from event_stream_for_k8s_spark.sources.kafka_wire import register

    register(spark)
    df = (
        spark.read.format("kafka-wire")
        .option("host", "127.0.0.1")
        .option("port", str(broker.port))
        .option("topic", "docs")
        .option("maxbytes", "256")
        .load()
    )
    assert df.rdd.getNumPartitions() == 2  # one Spark task per Kafka part
    rows = df.collect()
    assert len(rows) == 203
    p1 = sorted(
        (r["kafka_offset"], r["value"])
        for r in rows
        if r["partition"] == 1
    )
    assert p1[0] == (0, "v0") and p1[-1] == (199, "v199")
    nullkey = [r for r in rows if r["key"] is None]
    assert len(nullkey) == 1 and nullkey[0]["value"] == "nullkey"


def test_fetch_all_widens_past_oversized_message(broker):
    """A message larger than max_bytes yields an empty fetch below the
    high watermark; the drain must widen and retry, never silently
    return a partial log (ADVICE r13 silent-data-loss path)."""
    c = KafkaWireClient("127.0.0.1", broker.port)
    try:
        # partition 0's first message frame is ~40 bytes; max_bytes=8
        # truncates even the MessageSet header, so fetch #1 is empty
        msgs = c.fetch_all("docs", 0, max_bytes=8)
        assert [v for _, _, v in msgs] == [b"hello", b"world", b"nullkey"]
    finally:
        c.close()


def test_fetch_all_rejects_empty_listoffsets_reply(broker):
    """A broker MAY answer ListOffsets with an empty offsets array;
    the drain must turn that protocol anomaly into a described error,
    not a bare IndexError (ADVICE r14)."""
    c = KafkaWireClient("127.0.0.1", broker.port)
    try:
        c.list_offsets = lambda *a, **kw: []
        with pytest.raises(ValueError, match="ListOffsets returned no offset"):
            c.fetch_all("docs", 0)
    finally:
        c.close()


def test_encode_record_batch_v2_rejects_empty_entries():
    """An empty batch would encode degenerate header fields
    (recordCount 0, lastOffsetDelta -1) that a produce call would
    happily ship (ADVICE r14) — raise instead."""
    from event_stream_for_k8s_spark.sources.kafka_wire import (
        encode_record_batch_v2,
    )

    with pytest.raises(ValueError, match="requires >=1 record"):
        encode_record_batch_v2([])


def test_crc32c_known_vectors():
    """The v2 checksum against the published CRC-32C test vectors
    (RFC 3720 appendix / Castagnoli)."""
    from event_stream_for_k8s_spark.sources.kafka_wire import _crc32c

    assert _crc32c(b"123456789") == 0xE3069283
    assert _crc32c(b"") == 0x00000000
    assert _crc32c(b"\x00" * 32) == 0x8A9136AA


def test_varint_zigzag_roundtrip():
    from event_stream_for_k8s_spark.sources.kafka_wire import (
        _Reader,
        _dec_varint,
        _enc_varint,
    )

    # the protobuf zigzag spec points
    assert _enc_varint(0) == b"\x00"
    assert _enc_varint(-1) == b"\x01"
    assert _enc_varint(1) == b"\x02"
    assert _enc_varint(-2) == b"\x03"
    for v in [0, 1, -1, 63, -64, 64, 300, -300, 2**31, -(2**31), 2**62 - 1]:
        assert _dec_varint(_Reader(_enc_varint(v))) == v


def test_record_batch_v2_hand_built_frame():
    """A RecordBatch v2 assembled byte-by-byte from the public spec
    (kafka.apache.org/protocol 'Record Batch') pins the decoder
    independently of the encoder, the same discipline as the JPEG
    hand-built spec vectors."""
    import struct

    from event_stream_for_k8s_spark.sources.kafka_wire import (
        _Reader,
        _crc32c,
        decode_record_batch_v2,
        encode_record_batch_v2,
    )

    # record 0: key b"k", value b"alpha"; record 1: null key, b"beta"
    rec0 = (
        b"\x00"        # attributes
        + b"\x00"      # timestampDelta zigzag(0)
        + b"\x00"      # offsetDelta zigzag(0)
        + b"\x02" + b"k"       # keyLen zigzag(1), key
        + b"\x0a" + b"alpha"   # valueLen zigzag(5), value
        + b"\x00"      # headers zigzag(0)
    )
    rec1 = (
        b"\x00"
        + b"\x02"      # timestampDelta zigzag(1)
        + b"\x02"      # offsetDelta zigzag(1)
        + b"\x01"      # keyLen zigzag(-1) = null
        + b"\x08" + b"beta"
        + b"\x00"
    )
    records = (
        bytes([len(rec0) << 1]) + rec0 + bytes([len(rec1) << 1]) + rec1
    )
    crc_part = (
        struct.pack(">hi", 0, 1)      # attributes, lastOffsetDelta
        + struct.pack(">qq", 0, 1)    # base/max timestamp
        + struct.pack(">qhi", -1, -1, -1)
        + struct.pack(">i", 2)        # recordCount
        + records
    )
    tail = (
        struct.pack(">ib", 0, 2)
        + struct.pack(">I", _crc32c(crc_part))
        + crc_part
    )
    frame = struct.pack(">qi", 7, len(tail)) + tail

    assert decode_record_batch_v2(_Reader(frame)) == [
        (7, b"k", b"alpha"),
        (8, None, b"beta"),
    ]
    # and the encoder emits exactly these bytes
    assert (
        encode_record_batch_v2(
            [(b"k", b"alpha"), (None, b"beta")], base_offset=7
        )
        == frame
    )

    # flip a record byte: crc32c must catch it
    bad = bytearray(frame)
    bad[-3] ^= 1
    import pytest as pt

    with pt.raises(ValueError, match="crc32c mismatch"):
        decode_record_batch_v2(_Reader(bytes(bad)))


def test_v2_fetch_and_produce_over_tcp():
    """The transport end-to-end in v2 mode: multi-record batches,
    mid-batch max_bytes cuts, the magic-dispatch in
    decode_message_set, and a Produce round trip in both formats."""
    from event_stream_for_k8s_spark.sources.kafka_wire import (
        KafkaWireClient,
        StubKafkaBroker,
        decode_message_set,
        encode_message_set,
        encode_record_batch_v2,
    )

    logs = {
        ("docs", 0): [
            (str(i).encode(), f"v{i}".encode()) for i in range(137)
        ]
    }
    b = StubKafkaBroker(
        logs, magic=2, batch_records=10, compression="gzip"
    ).start()
    c = KafkaWireClient("127.0.0.1", b.port)
    try:
        # full drain through truncated-batch pagination
        msgs = c.fetch_all("docs", 0, max_bytes=256)
        assert [o for o, _, _ in msgs] == list(range(137))
        assert msgs[42][2] == b"v42"
        # produce in v0 format, then v2 format, to the same log
        assert c.produce("docs", 0, [(b"x", b"extra0")], magic=0) == 137
        assert c.produce("docs", 0, [(None, b"extra1")], magic=2) == 138
        hw, tail = c.fetch("docs", 0, 137)
        assert hw == 139
        assert [(k, v) for _, k, v in tail] == [
            (b"x", b"extra0"),
            (None, b"extra1"),
        ]
    finally:
        c.close()
        b.stop()

    # mixed wire formats in one buffer: dispatch is per entry
    mixed = encode_message_set([(b"a", b"m0")], base_offset=0)
    mixed += encode_record_batch_v2([(b"b", b"m1")], base_offset=1)
    assert decode_message_set(mixed) == [
        (0, b"a", b"m0"),
        (1, b"b", b"m1"),
    ]


def _v2_batch(codec: int, blob: bytes, n: int = 1) -> bytes:
    """A RecordBatch v2 frame at offset 0 around a raw records blob,
    codec bits ``codec``, with a valid crc32c: feeds hand-built codec
    streams (well-formed or not) through ``decode_record_batch_v2``."""
    import struct

    from event_stream_for_k8s_spark.sources.kafka_wire import _crc32c

    crc_part = (
        struct.pack(">hi", codec, n - 1)
        + struct.pack(">qq", 0, n - 1)
        + struct.pack(">qhi", -1, -1, -1)
        + struct.pack(">i", n)
        + blob
    )
    tail = struct.pack(">ib", 0, 2) + struct.pack(">I", _crc32c(crc_part))
    tail += crc_part
    return struct.pack(">qi", 0, len(tail)) + tail


def _assert_batch_rejects(codec: int, blob: bytes) -> None:
    from event_stream_for_k8s_spark.sources.kafka_wire import (
        _CODECS,
        _Reader,
        decode_record_batch_v2,
    )

    name = _CODECS[codec][0]
    with pytest.raises(ValueError, match=f"{name} record batch at offset 0"):
        decode_record_batch_v2(_Reader(_v2_batch(codec, blob)))


def test_record_batch_v2_gzip_compression():
    """Compressed batches are real coverage, not silent garbage: gzip
    (codec 1, stdlib), snappy (codec 2), lz4 (codec 3) and zstd
    (codec 4, all three through the libraries pyarrow bundles)
    round-trip with a valid crc32c over the COMPRESSED blob; the
    reserved codec bits 5-7 raise, as does a v0 wrapper-compressed
    message."""
    import struct

    import pytest as pt

    from event_stream_for_k8s_spark.sources.kafka_wire import (
        _Reader,
        decode_message_set,
        decode_record_batch_v2,
        encode_message_set,
        encode_record_batch_v2,
    )

    entries = [(b"k%d" % i, b"payload-%d" % i) for i in range(40)]
    plain = encode_record_batch_v2(entries, base_offset=5)
    for codec in ("gzip", "snappy", "lz4", "zstd"):
        z = encode_record_batch_v2(entries, base_offset=5, compression=codec)
        assert len(z) < len(plain), codec  # it genuinely compressed
        assert decode_record_batch_v2(_Reader(z)) == [
            (5 + i, k, v) for i, (k, v) in enumerate(entries)
        ]
    gz = encode_record_batch_v2(entries, base_offset=5, compression="gzip")
    # reserved codec bits: flip attributes to 5 and re-crc
    from event_stream_for_k8s_spark.sources.kafka_wire import _crc32c

    body = bytearray(gz)
    crc_part = bytearray(body[21:])
    crc_part[1] = 5  # attributes low byte -> reserved codec 5
    body = body[:17] + struct.pack(">I", _crc32c(bytes(crc_part))) + crc_part
    with pt.raises(NotImplementedError, match="codec 5"):
        decode_record_batch_v2(_Reader(bytes(body)))

    with pt.raises(NotImplementedError, match="gzip/snappy/lz4/zstd only"):
        encode_record_batch_v2(entries, compression="brotli")

    # v0 wrapper compression: set the attribute byte, re-crc
    import zlib

    ms = bytearray(encode_message_set([(b"a", b"b")]))
    # entry: offset8 size4 crc4 magic1 attr1 ...
    ms[17] = 1  # attributes -> gzip wrapper
    rest = bytes(ms[16:])
    ms[12:16] = struct.pack(">I", zlib.crc32(rest) & 0xFFFFFFFF)
    with pt.raises(NotImplementedError, match="compressed MessageSet"):
        decode_message_set(bytes(ms))


# One 5-record batch per codec, written by the pure-Python snappy, lz4
# and zstd encoders this module shipped before it moved to the codecs
# pyarrow bundles (plain and gzip for completeness): batches already
# sitting in a log must still decode to the same records.
_LEGACY_ENTRIES = [
    (b"pod-a", b'{"reason":"Scheduled","count":1}'),
    (None, b'{"reason":"Pulled","count":1}'),
    (b"pod-a", b'{"reason":"Created","count":1}'),
    (b"pod-b", b'{"reason":"Started","count":1}'),
    (b"", b'{"reason":"Started","count":2}' * 3),
]
_LEGACY_BATCHES = {
    None: bytes.fromhex(
        "00000000000000280000013800000000029e5a65220000000000040000018bcf"
        "e568000000018bcfe56804ffffffffffffffffffffffffffff00000005560000"
        "000a706f642d61407b22726561736f6e223a225363686564756c6564222c2263"
        "6f756e74223a317d0046000202013a7b22726561736f6e223a2250756c6c6564"
        "222c22636f756e74223a317d00520004040a706f642d613c7b22726561736f6e"
        "223a2243726561746564222c22636f756e74223a317d00520006060a706f642d"
        "623c7b22726561736f6e223a2253746172746564222c22636f756e74223a317d"
        "00c20100080800b4017b22726561736f6e223a2253746172746564222c22636f"
        "756e74223a327d7b22726561736f6e223a2253746172746564222c22636f756e"
        "74223a327d7b22726561736f6e223a2253746172746564222c22636f756e7422"
        "3a327d00"
    ),
    'gzip': bytes.fromhex(
        "0000000000000028000000aa0000000002812b5a930001000000040000018bcf"
        "e568000000018bcfe56804ffffffffffffffffffffffffffff000000051f8b08"
        "000000000002030b636060e02ac84fd14d74a8562a4a4d2ccecf53b2520a4ece"
        "484d29cd494d51d2514ace2fcd2b51b232ac657063606262b4425216509a83ae"
        "2688818505629e0d92426720ab0443251b1b586512b2cae092c4227495871819"
        "383818b630e25366544b892c03007659e4c907010000"
    ),
    'snappy': bytes.fromhex(
        "0000000000000028000000b2000000000243553a0b0002000000040000018bcf"
        "e568000000018bcfe56804ffffffffffffffffffffffffffff000000058702c4"
        "560000000a706f642d61407b22726561736f6e223a225363686564756c656422"
        "2c22636f756e74223a317d0046000202013a2a27000850756c3e24000c520004"
        "04165000003c2a29001043726561743a4e000c52000606122a0000622e2a000c"
        "537461723e2a001cc20100080800b4012a510042270004327dee1e000000"
    ),
    'lz4': bytes.fromhex(
        "0000000000000028000000bf0000000002a340dcd40003000000040000018bcf"
        "e568000000018bcfe56804ffffffffffffffffffffffffffff0000000504224d"
        "186440a77b000000f723560000000a706f642d61407b22726561736f6e223a22"
        "5363686564756c6564222c22636f756e74223a317d0046000202013a27003c50"
        "756c240042520004045000173c29005b43726561744e0041520006062a001862"
        "2a004c537461722a0087c20100080800b40151000d27002f327d1e002550223a"
        "327d00000000003ad899ea"
    ),
    'zstd': bytes.fromhex(
        "0000000000000028000000b30000000002cb7f52980004000000040000018bcf"
        "e568000000018bcfe56804ffffffffffffffffffffffffffff0000000528b52f"
        "fd640700a503003405560000000a706f642d61407b22726561736f6e223a2253"
        "63686564756c6564222c22636f756e74223a317d0046000202013a50756c5200"
        "04043c4372656174520006066253746172c20100080800b401327d000b00094a"
        "42a5335021e64d21d414dfa62d894257a6864d61c847a121ca5050da904b14"
    ),
}


@pytest.mark.parametrize("codec", list(_LEGACY_BATCHES))
def test_record_batch_v2_decodes_legacy_encoder_batches(codec):
    from event_stream_for_k8s_spark.sources.kafka_wire import (
        _Reader,
        decode_record_batch_v2,
    )

    assert decode_record_batch_v2(_Reader(_LEGACY_BATCHES[codec])) == [
        (40 + i, k, v) for i, (k, v) in enumerate(_LEGACY_ENTRIES)
    ]


def _payloads():
    """Random, repetitive and tiny-alphabet byte strings (the tiny
    alphabet maximises match density and overlap runs)."""
    from hypothesis import strategies as st

    return st.one_of(
        st.binary(max_size=3000),
        st.binary(min_size=1, max_size=8).flatmap(
            lambda unit: st.integers(1, 400).map(lambda n: unit * n)
        ),
        st.lists(st.sampled_from([b"ab", b"a", b"abc", b"\x00"]))
        .map(b"".join),
    )


@pytest.mark.parametrize("codec", [None, "gzip", "snappy", "lz4", "zstd"])
def test_record_batch_v2_roundtrip_property(codec):
    """Hypothesis property: encode_record_batch_v2 ->
    decode_record_batch_v2 is the identity for ANY records under every
    codec, null keys and values included, across random, repetitive
    and tiny-alphabet payloads (the tiny alphabet maximises match
    density and overlap runs); the explicit example spans several
    64 KiB lz4 blocks."""
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from event_stream_for_k8s_spark.sources.kafka_wire import (
        _Reader,
        decode_record_batch_v2,
        encode_record_batch_v2,
    )

    records = st.lists(
        st.tuples(
            st.none() | st.binary(max_size=16), st.none() | _payloads()
        ),
        min_size=1,
        max_size=8,
    )

    @given(entries=records)
    @example(entries=[(None, b"x" * 200_000), (b"k", bytes(range(256)) * 300)])
    @settings(max_examples=100, deadline=None)
    def prop(entries):
        batch = encode_record_batch_v2(
            entries, base_offset=3, compression=codec
        )
        assert decode_record_batch_v2(_Reader(batch)) == [
            (3 + i, k, v) for i, (k, v) in enumerate(entries)
        ]

    prop()


def test_snappy_codec_spec_vectors_and_roundtrip():
    """The snappy block decoder: hand-built spec vectors exercise every
    element type independently of the compressor (literal,
    1/2/4-byte-offset copies, the overlapping LZ77 run), malformed
    blocks raise from decode_record_batch_v2, and compress ->
    decompress is identity on adversarial shapes."""
    import os
    import random

    from event_stream_for_k8s_spark.sources.kafka_wire import (
        _CODECS,
        _decompress,
    )

    def dec(blob):
        return _decompress(2, blob, 0)

    # literal "abcde"; copy1 len4 off5 -> "abcd"; copy2 len2 off1
    # (overlap: the run doubles the last byte twice) -> "dd"
    hand = (
        bytes([11, (5 - 1) << 2])
        + b"abcde"
        + bytes([(4 - 4) << 2 | 1, 5, ((2 - 1) << 2) | 2, 1, 0])
    )
    assert dec(hand) == b"abcdeabcddd"

    # 4-byte-offset copy form (type 11)
    hand4 = (
        bytes([8, (4 - 1) << 2])
        + b"wxyz"
        + bytes([((4 - 1) << 2) | 3, 4, 0, 0, 0])
    )
    assert dec(hand4) == b"wxyzwxyz"

    # long-literal length bytes (60-form: 1 length byte)
    lit = os.urandom(100)
    hand60 = bytes([100, 60 << 2, 99]) + lit
    assert dec(hand60) == lit

    # 61-form: 2 little-endian length bytes — covers literals >255 bytes
    lit61 = os.urandom(300)
    hand61 = bytes([(300 & 0x7F) | 0x80, 300 >> 7, 61 << 2, 299 & 0xFF, 299 >> 8]) + lit61
    assert dec(hand61) == lit61

    for bad in [
        b"",  # no length preamble
        bytes([5, (4 - 1) << 2]) + b"ab",  # truncated literal
        bytes([4, ((4 - 1) << 2) | 2, 9, 0]),  # offset out of range
        bytes([9, (5 - 1) << 2]) + b"abcde",  # length mismatch
    ]:
        _assert_batch_rejects(2, bad)

    compress = _CODECS[2][1]
    rng = random.Random(11)
    cases = [
        b"",
        b"a",
        b"abcd" * 1000,
        os.urandom(5000),
        bytes(rng.randrange(4) for _ in range(20000)),
        b"x" * 100000,
    ]
    for c in cases:
        assert dec(compress(c)) == c
    assert len(compress(b"x" * 100000)) < 6000  # it compresses


def test_snappy_length_preamble_is_bounded():
    """The uvarint length that opens a snappy block is broker input
    the library would allocate up front: a preamble past 5 bytes, or a
    length no block of this size can expand to, raises before any
    allocation."""
    from event_stream_for_k8s_spark.sources.kafka_wire import _decompress

    # 6 bytes claiming 2**31: 0x80 0x80 0x80 0x80 0x08 + one literal
    claim = bytes([0x80, 0x80, 0x80, 0x80, 0x08, 0x00])
    with pytest.raises(ValueError, match="snappy length 2147483648"):
        _decompress(2, claim, 0)
    # an overlong 6-byte preamble, even for a length of 1
    with pytest.raises(ValueError, match="length preamble"):
        _decompress(2, bytes([0x81, 0x80, 0x80, 0x80, 0x80, 0x00]), 0)
    _assert_batch_rejects(2, claim)


# LZ4 frame header-checksum bytes, (xxh32(FLG BD) >> 8) & 0xFF per
# lz4_Frame_format.md, for BD 0x40 (64 KiB blocks) and each FLG below
_LZ4_HC = {0x40: 0xC0, 0x60: 0x82, 0x61: 0xA1, 0x64: 0xA7}


def _lz4_frame(flg, blocks, tail=b""):
    out = b"\x04\x22\x4d\x18" + bytes([flg, 0x40, _LZ4_HC[flg]])
    for stored, payload in blocks:
        size = len(payload) | (0x80000000 if stored else 0)
        out += size.to_bytes(4, "little") + payload
    return out + b"\x00\x00\x00\x00" + tail


def test_xxh32_spec_vectors():
    """xxHash32 against the published spec vectors, as the lz4 frame
    decoder checks them: a frame's content checksum is xxh32 of its
    content, so a frame carrying the vector decodes and one carrying
    the vector off by one raises."""
    from event_stream_for_k8s_spark.sources.kafka_wire import _decompress

    for content, xxh in [
        (b"", 0x02CC5D05),
        (b"a", 0x550D7456),
        (b"abc", 0x32D153FF),
    ]:
        blocks = [(True, content)] if content else []
        good = _lz4_frame(0x64, blocks, tail=xxh.to_bytes(4, "little"))
        assert _decompress(3, good, 0) == content
        bad = _lz4_frame(0x64, blocks, tail=(xxh ^ 1).to_bytes(4, "little"))
        _assert_batch_rejects(3, bad)


def test_lz4_block_hand_built_spec_vectors():
    """The block format's sequences per lz4_Block_format.md, hand built
    and decoded as block payloads of an lz4 frame: plain literals,
    match, overlap run, literal- and match-length 255-extensions, and
    the malformed-input raises. A block must end in at least 5
    literals, so each vector that ends in a match carries the literal
    tail ``VWXYZ``."""
    from event_stream_for_k8s_spark.sources.kafka_wire import _decompress

    def block(payload):
        return _decompress(3, _lz4_frame(0x60, [(False, payload)]), 0)

    tail = bytes([0x50]) + b"VWXYZ"  # final sequence: 5 literals
    # literal-only final sequence
    assert block(bytes([0x30]) + b"abc") == b"abc"
    # one match: 5 literals, offset 5, matchlen 4+0
    assert block(bytes([0x50]) + b"abcde" + b"\x05\x00" + tail) == (
        b"abcdeabcdVWXYZ"
    )
    # overlapping run: offset 2 < matchlen 6 replicates "ab"
    assert block(bytes([0x22]) + b"ab" + b"\x02\x00" + tail) == (
        b"ababababVWXYZ"
    )
    # literal length extension: 15 + 255 + 3 = 273 literals
    lit = bytes(range(256)) + b"Q" * 17
    assert block(bytes([0xF0, 255, 3]) + lit) == lit
    # match length extension: 4 + 15 + 255 + 7 = 281 from offset 1
    assert block(
        bytes([0x1F]) + b"z" + b"\x01\x00" + bytes([255, 7]) + tail
    ) == b"z" * 282 + b"VWXYZ"
    for bad in [
        b"",  # empty block: a zero size is the end mark, so junk follows
        bytes([0x50]) + b"ab",  # truncated literals
        bytes([0x10]) + b"a" + b"\x09\x00" + bytes([0x00]),  # offset > out
        bytes([0x10]) + b"a" + b"\x00\x00" + bytes([0x00]),  # offset 0
        bytes([0x10]) + b"a" + b"\x01",  # truncated match offset
        bytes([0xF0, 255]),  # truncated literal length
        bytes([0x1F]) + b"z" + b"\x01\x00" + bytes([255]),  # truncated ml
        # ends in a match: the last 5 bytes must be literals
        bytes([0x50]) + b"abcde" + b"\x05\x00" + bytes([0x00]),
    ]:
        _assert_batch_rejects(3, _lz4_frame(0x60, [(False, bad)]))


def test_lz4_frame_hand_built_and_features():
    """The lz4 frame decoder against hand-assembled frames: stored
    (uncompressed) blocks, skippable frames, dependent blocks across a
    block boundary, and the checksum/structure raises."""
    from event_stream_for_k8s_spark.sources.kafka_wire import _decompress

    def dec(frame):
        return _decompress(3, frame, 0)

    tail = bytes([0x50]) + b"VWXYZ"  # final sequence: 5 literals
    blk = bytes([0x30]) + b"abc"  # literal-only block: b"abc"
    # stored block (high size bit): payload passed through verbatim
    assert dec(_lz4_frame(0x60, [(True, b"RAW!")])) == b"RAW!"
    # skippable frame before a real one
    skip = b"\x50\x2a\x4d\x18" + (3).to_bytes(4, "little") + b"xyz"
    assert dec(skip + _lz4_frame(0x60, [(False, blk)])) == b"abc"
    # dependent blocks (B.Indep off): block 2's match copies block 1's
    # decompressed output
    dep2 = bytes([0x00]) + b"\x04\x00" + tail
    assert dec(_lz4_frame(0x40, [(True, b"abcd"), (False, dep2)])) == (
        b"abcdabcdVWXYZ"
    )
    # content checksum xxh32(b"abc") verified (the right one, then a
    # wrong one)
    good = _lz4_frame(0x64, [(False, blk)], tail=(0x32D153FF).to_bytes(4, "little"))
    assert dec(good) == b"abc"
    _assert_batch_rejects(3, good[:-4] + b"\x00\x00\x00\x00")
    # header checksum byte is actually checked
    bad_hc = bytearray(_lz4_frame(0x60, [(False, blk)]))
    bad_hc[6] ^= 0xFF
    _assert_batch_rejects(3, bytes(bad_hc))
    # bad frame magic
    _assert_batch_rejects(3, b"\x00\x00\x00\x00" + b"junk")
    # a dictionary frame whose header omits the dictionary id
    _assert_batch_rejects(3, _lz4_frame(0x61, [(False, blk)]))


def test_lz4_codec_roundtrip():
    """The codec table's lz4 entry: compress -> _decompress identity
    across content classes, genuinely compressing repetitive input and
    spanning several 64 KiB blocks."""
    import os
    import random

    from event_stream_for_k8s_spark.sources.kafka_wire import (
        _CODECS,
        _decompress,
    )

    compress = _CODECS[3][1]
    rng = random.Random(11)
    cases = [
        b"",
        b"a",
        b"abcd" * 1000,
        os.urandom(5000),
        bytes(rng.randrange(4) for _ in range(20000)),
        b"x" * 200000,  # spans multiple 64 KiB blocks
        os.urandom(70000),
    ]
    for c in cases:
        assert _decompress(3, compress(c), 0) == c
    assert len(compress(b"x" * 200000)) < 2000  # it compresses


def test_lz4_roundtrip_property():
    """Hypothesis property: the codec table's lz4 compress ->
    _decompress is the identity for ANY byte string, and the streaming
    decode (no size known) agrees with liblz4's one-shot decode given
    the size."""
    import pyarrow as pa
    from hypothesis import given, settings

    from event_stream_for_k8s_spark.sources.kafka_wire import (
        _CODECS,
        _decompress,
    )

    compress = _CODECS[3][1]
    codec = pa.Codec("lz4")

    @given(data=_payloads())
    @settings(max_examples=100, deadline=None)
    def prop(data):
        frame = compress(data)
        assert _decompress(3, frame, 0) == data
        one_shot = codec.decompress(
            frame, decompressed_size=len(data), asbytes=True
        )
        assert one_shot == data

    prop()


def test_xxh64_spec_vector_and_zstd_hand_built_frames():
    """The zstd decoder against HAND-ASSEMBLED frames per RFC 8878:
    Raw and RLE blocks, a compressed block with RLE literals + zero
    sequences, a compressed block with Raw literals + ONE
    predefined-mode sequence exercising repcode 1, skippable frames,
    and the malformed-input raises — all independent of the encoder.
    The content checksum is the low 32 bits of xxHash64: the
    published empty-input vector 0xEF46DB3751D8E999 and xxh64(b"ab")
    are checked as the decoder verifies them."""
    from event_stream_for_k8s_spark.sources.kafka_wire import _decompress

    def dec(frame):
        return _decompress(4, frame, 0)

    def frame(blocks, fhd=0x20, fcs=None, tail=b""):
        out = b"\x28\xb5\x2f\xfd" + bytes([fhd])
        if fcs is not None:
            out += fcs
        for last, btype, bsize, payload in blocks:
            out += ((bsize << 3) | (btype << 1) | last).to_bytes(3, "little")
            out += payload
        return out + tail

    # Raw block; single-segment 1-byte FCS
    assert dec(frame([(1, 0, 3, b"abc")], fcs=b"\x03")) == b"abc"
    # RLE block: size field = regenerated size, one payload byte
    assert dec(frame([(1, 1, 5, b"z")], fcs=b"\x05")) == b"zzzzz"
    # multi-block: raw then RLE
    assert (
        dec(frame([(0, 0, 2, b"ab"), (1, 1, 3, b"c")], fcs=b"\x05"))
        == b"abccc"
    )
    # compressed block: RLE literals header (type=1, SF=00: RS=4 ->
    # byte 0b00100_0_01 = 0x21), literal byte 'q', then nbSeq=0
    cb = bytes([0x21]) + b"q" + bytes([0x00])
    assert dec(frame([(1, 2, len(cb), cb)], fcs=b"\x04")) == b"qqqq"
    # compressed block with ONE predefined-mode sequence: raw literals
    # "abcd" (header type=0 SF=00 RS=4 -> 0x20), nbSeq=1, modes byte 0
    # (all predefined). Backward bitstream, 17 bits + sentinel, in
    # read order: LL-state(6b) = 4 — the predefined LL table's spread
    # places symbol 4 at cell 4, hand-walked — OF-state(5b) = 0 and
    # ML-state(6b) = 0 (cell 0 of every spread is symbol 0), then no
    # extra bits: of_code 0 -> offset_value (1<<0)+0 = 1 = repcode 1
    # (initial history [1, 4, 8] -> offset 1), ml_code 0 -> ml 3,
    # ll_code 4 -> ll 4. "abcd" then copy 3 back-1 -> "abcdddd".
    # Bit 13 set of 17 -> little-endian bytes 00 20, sentinel 02.
    cb2 = bytes([0x20]) + b"abcd" + bytes([0x01, 0x00, 0x00, 0x20, 0x02])
    assert dec(frame([(1, 2, len(cb2), cb2)], fcs=b"\x07")) == b"abcdddd"
    # skippable frame between real frames
    skip = b"\x50\x2a\x4d\x18" + (3).to_bytes(4, "little") + b"xyz"
    two = (
        frame([(1, 0, 2, b"hi")], fcs=b"\x02")
        + skip
        + frame([(1, 0, 2, b"ho")], fcs=b"\x02")
    )
    assert dec(two) == b"hiho"

    for bad in [
        b"\x00\x00\x00\x00",  # bad frame magic
        frame([(1, 3, 2, b"ab")], fcs=b"\x02"),  # reserved block type
        frame([(1, 0, 9, b"ab")], fcs=b"\x02"),  # truncated raw block
        frame([(1, 0, 2, b"ab")], fcs=b"\x09"),  # content size mismatch
        frame([(1, 0, 2, b"ab")], fhd=0x21, fcs=b"\x02"),  # dictionary
        frame([(1, 0, 2, b"ab")], fhd=0x28, fcs=b"\x02"),  # reserved FHD
    ]:
        _assert_batch_rejects(4, bad)
    # checksummed frames, then the same with a corrupt checksum
    for content, xxh64_lo in [(b"", 0x51D8E999), (b"ab", 0x92D04A61)]:
        good = frame(
            [(1, 0, len(content), content)],
            fhd=0x24,
            fcs=bytes([len(content)]),
            tail=xxh64_lo.to_bytes(4, "little"),
        )
        assert dec(good) == content
        _assert_batch_rejects(4, good[:-4] + b"\x00\x00\x00\x00")


def test_zstd_differential_vs_libzstd():
    """The streaming decode against libzstd's one-shot decode: frames
    compressed at several levels (Huffman literals, FSE/RLE/Repeat
    sequence tables, repcodes, multi-block) decode byte-exactly through
    _decompress, which reads them without a size, and the codec table's
    own frames decode under the one-shot call given the size."""
    import os
    import random

    import pyarrow as pa

    from event_stream_for_k8s_spark.sources.kafka_wire import (
        _CODECS,
        _decompress,
    )

    rng = random.Random(15)
    cases = [
        b"",
        b"a",
        b"hello world " * 500,
        os.urandom(10_000),
        bytes(rng.randrange(8) for _ in range(200_000)),
        b"\x00" * 300_000,
        "".join(rng.choice("abcdefg ") for _ in range(150_000)).encode(),
    ]
    for lvl in (1, 3, 19):
        codec = pa.Codec("zstd", compression_level=lvl)
        for data in cases:
            z = codec.compress(data, asbytes=True)
            assert _decompress(4, z, 0) == data, (lvl, len(data))
    codec = pa.Codec("zstd")
    for data in cases:
        z = _CODECS[4][1](data)
        got = codec.decompress(z, decompressed_size=len(data), asbytes=True)
        assert got == data
        assert _decompress(4, z, 0) == data  # self round trip


def test_zstd_roundtrip_property():
    """Hypothesis property: libzstd-compressed bytes of ANY shape
    decode exactly through _decompress, and the codec table's zstd
    entry round-trips."""
    import pyarrow as pa
    from hypothesis import given, settings

    from event_stream_for_k8s_spark.sources.kafka_wire import (
        _CODECS,
        _decompress,
    )

    codec = pa.Codec("zstd", compression_level=3)

    @given(data=_payloads())
    @settings(max_examples=100, deadline=None)
    def prop(data):
        assert _decompress(4, codec.compress(data, asbytes=True), 0) == data
        assert _decompress(4, _CODECS[4][1](data), 0) == data

    prop()


def test_api_versions_and_list_offsets(broker):
    """ApiVersions (the first request a real client sends) and
    ListOffsets v0 (earliest/latest seek) over TCP; fetch_all now
    discovers its start offset through the protocol instead of
    assuming 0."""
    c = KafkaWireClient("127.0.0.1", broker.port)
    try:
        vers = c.api_versions()
        for key in (0, 1, 2, 3, 18):
            assert vers[key] == (0, 0)
        assert c.list_offsets("docs", 0, -2) == [0]   # earliest
        assert c.list_offsets("docs", 0, -1) == [3]   # latest = hw
        assert c.list_offsets("docs", 1, -1) == [200]
        import pytest as pt

        with pt.raises(ValueError, match="error code 3"):
            c.list_offsets("nope", 0, -1)
        # the drain still sees everything via the discovered start
        assert len(c.fetch_all("docs", 0)) == 3
    finally:
        c.close()
