"""Framed Snappy: CRC32C vectors, raw-block tags inside framed chunks
(decoded by pyarrow's libsnappy), framing and checksums."""

import pytest

from nyctaxidatapipeline_spark.functions.snappy import (
    FRAME_MAGIC,
    _masked_crc,
    crc32c,
    frame_compress,
    frame_decompress,
)


def _one_chunk(raw: bytes, payload: bytes = b"") -> bytes:
    """A framed stream holding one compressed (type 0x00) chunk: the
    hand-built raw snappy block ``raw``, checksummed as ``payload``."""
    body = _masked_crc(payload).to_bytes(4, "little") + raw
    return FRAME_MAGIC + b"\x00" + len(body).to_bytes(3, "little") + body


def test_crc32c_check_vectors():
    # the standard CRC-32C check value and the all-zeros vector
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"\x00" * 32) == 0x8A9136AA


def test_raw_roundtrip_shapes():
    cases = [b"", b"a", b"snappy " * 200, bytes(range(256)) * 40,
             b"x" * 100_000, "mixed ünïcode ✓ ".encode() * 500]
    for data in cases:
        assert frame_decompress(frame_compress(data)) == data
    # repetitive input must actually compress
    rep = b"the quick brown fox " * 500
    assert len(frame_compress(rep)) < len(rep) // 5


def test_raw_overlapping_copy_semantics():
    # offset 1, length 8: decoder must copy byte-by-byte ("aaaa...")
    raw = bytes([9]) + bytes([0 << 2, ord("a")]) + bytes(
        [0x02 | (7 << 2), 1, 0])
    assert frame_decompress(_one_chunk(raw, b"a" * 9)) == b"a" * 9


def test_raw_one_and_four_byte_offset_tags():
    # literal "abcd", copy len 4 offset 4 via 1-byte-offset tag (01)
    s1 = bytes([8]) + bytes([3 << 2]) + b"abcd" + bytes([0x01, 4])
    assert frame_decompress(_one_chunk(s1, b"abcdabcd")) == b"abcdabcd"
    # same via 4-byte-offset tag (11)
    s4 = (bytes([8]) + bytes([3 << 2]) + b"abcd"
          + bytes([0x03 | (3 << 2)]) + (4).to_bytes(4, "little"))
    assert frame_decompress(_one_chunk(s4, b"abcdabcd")) == b"abcdabcd"


def test_raw_rejects_corruption():
    for raw in (bytes([4, 0x02 | (3 << 2), 9, 0]),      # offset > out
                bytes([200]) + bytes([3 << 2]) + b"abcd",  # length
                b"\xff" * 6,                              # bad varint
                b"\xff\xff\x7f" + bytes([3 << 2]) + b"abcd"):  # > 64 KiB
        with pytest.raises(ValueError):
            frame_decompress(_one_chunk(raw))


def test_frame_roundtrip_and_multichunk():
    data = b"json line %d\n" * 1 + bytes(range(256)) * 600  # > 64 KiB
    framed = frame_compress(data)
    assert framed.startswith(FRAME_MAGIC)
    assert frame_decompress(framed) == data
    assert frame_decompress(frame_compress(b"")) == b""


def test_frame_checksum_and_skippable():
    framed = bytearray(frame_compress(b"hello snappy world " * 10))
    # flip one payload byte -> checksum must catch it
    bad = bytearray(framed)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError):
        frame_decompress(bytes(bad))
    # padding chunk (0xfe) between chunks is skipped
    padded = (bytes(framed[:len(FRAME_MAGIC)])
              + b"\xfe\x03\x00\x00xyz"
              + bytes(framed[len(FRAME_MAGIC):]))
    assert frame_decompress(padded) == b"hello snappy world " * 10
    # reserved unskippable type raises
    evil = (bytes(framed[:len(FRAME_MAGIC)])
            + b"\x02\x01\x00\x00z"
            + bytes(framed[len(FRAME_MAGIC):]))
    with pytest.raises(ValueError):
        frame_decompress(evil)


def test_compressed_source_sniffs_and_reads_snappy(spark):
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.sources.compressed import (
        compress,
        decompress_auto,
        read_text_shards,
        sniff_codec,
    )

    text = "\n".join(f'{{"id": {i}}}' for i in range(50)).encode()
    blob = compress(text, "snappy")
    assert sniff_codec(blob) == "snappy"
    assert decompress_auto(blob) == text
    df = spark.createDataFrame([Row(shard_id=0, content=bytearray(blob))],
                               "shard_id long, content binary")
    rows = read_text_shards(df).collect()
    assert len(rows) == 50
    assert rows[0].codec == "snappy" and rows[7].line == '{"id": 7}'
