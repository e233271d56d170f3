"""zstd through pyarrow's libzstd: xxh64, frame roundtrips, checksums,
hand-built frames and corruption handling."""

import random

import pytest

from nyctaxidatapipeline_spark.functions.zstd import (
    xxh64,
    zstd_compress,
    zstd_decompress,
)


def _fcs_and_block_offsets(frame: bytes) -> tuple[int, int]:
    """Offsets of the frame-content-size field and the first block
    header, read from the frame header descriptor (RFC 8878 3.1.1.1)."""
    fhd = frame[4]
    single = bool(fhd & 0x20)
    fcs_pos = 5 + (0 if single else 1) + (0, 1, 2, 4)[fhd & 3]
    fcs_len = (1 if single else 0, 2, 4, 8)[fhd >> 6]
    return fcs_pos, fcs_pos + fcs_len


def test_xxh64_known_vector_and_dispersion():
    assert xxh64(b"") == 0xEF46DB3751D8E999
    # all length regimes produce distinct, stable values
    vals = {xxh64(b"a" * n) for n in (1, 3, 4, 7, 8, 31, 32, 33, 100)}
    assert len(vals) == 9


def test_frame_roundtrip_shapes():
    r = random.Random(11)
    cases = [b"", b"a", b"hello zstd " * 50, bytes(range(256)) * 40,
             b"x" * 5000, "úñïçødé ✓ text ".encode() * 800,
             bytes(r.randrange(256) for _ in range(20000)),  # incompressible
             b"the quick brown fox jumps over the lazy dog. " * 4000]
    for data in cases:
        z = zstd_compress(data)
        assert zstd_decompress(z) == data
    rep = b"structure repeats here " * 2000
    assert len(zstd_compress(rep)) < len(rep) // 20


def test_multiframe_and_skippable():
    a, b = b"first frame " * 10, b"second " * 30
    skip = (0x184D2A53).to_bytes(4, "little") + (5).to_bytes(4, "little") \
        + b"extra"
    stream = zstd_compress(a) + skip + zstd_compress(b)
    assert zstd_decompress(stream) == a + b


def test_checksum_and_reserved_block_rejected():
    from nyctaxidatapipeline_spark.sources.compressed import (
        compress,
        decompress_auto,
    )

    data = b"payload " * 100
    z = compress(data, "zst")
    assert z[4] & 0x04  # FHD content-checksum flag
    assert int.from_bytes(z[-4:], "little") == xxh64(data) & 0xFFFFFFFF
    _, block = _fcs_and_block_offsets(z)
    for pos in (block + 3, len(z) - 1):  # first payload byte, checksum
        bad = bytearray(z)
        bad[pos] ^= 0x55
        with pytest.raises(ValueError):
            decompress_auto(bytes(bad))
    # reserved block type: set the first block header's type bits to 3
    raw = bytearray(zstd_compress(bytes(random.Random(1).randbytes(40))))
    _, block = _fcs_and_block_offsets(raw)
    raw[block] |= 0x06
    with pytest.raises(ValueError):
        zstd_decompress(bytes(raw))


def test_rle_literals_block():
    """Hand-built frame: one compressed block holding RLE literals and
    zero sequences."""
    rsize = 17
    lit_sec = bytes([1 | (rsize << 3), ord("q")])
    block = lit_sec + b"\x00"  # 0 sequences
    frame = bytearray(b"\x28\xb5\x2f\xfd")
    frame.append(0x20)                      # single-segment, no checksum
    frame.append(rsize)                     # FCS 1 byte
    frame += ((len(block) << 3) | (2 << 1) | 1).to_bytes(3, "little")
    frame += block
    assert zstd_decompress(bytes(frame)) == b"q" * rsize


def test_fcs_mismatch_rejected():
    z = bytearray(zstd_compress(b"12345"))
    fcs, _ = _fcs_and_block_offsets(z)
    z[fcs] += 1
    with pytest.raises(ValueError):
        zstd_decompress(bytes(z))


def test_dictionary_frames_rejected():
    frame = bytearray(b"\x28\xb5\x2f\xfd")
    frame.append(0x20 | 0x01)  # single-segment + 1-byte dict id
    frame.append(7)            # dict id
    frame.append(0)            # fcs
    with pytest.raises(ValueError):
        zstd_decompress(bytes(frame))


def test_compressed_source_sniffs_and_reads_zst(spark):
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.sources.compressed import (
        compress,
        decompress_auto,
        read_text_shards,
        sniff_codec,
    )

    text = "\n".join(f'{{"id": {i}, "t": "doc text {i}"}}'
                     for i in range(80)).encode()
    blob = compress(text, "zst")
    assert sniff_codec(blob) == "zst"
    assert decompress_auto(blob) == text
    assert len(blob) < len(text)  # actually compresses
    df = spark.createDataFrame([Row(shard_id=0, content=bytearray(blob))],
                               "shard_id long, content binary")
    rows = read_text_shards(df).collect()
    assert len(rows) == 80
    assert rows[0].codec == "zst" and rows[9].line.startswith('{"id": 9')


def test_fuzz_mutations_never_hang():
    """300 random single-byte mutations of valid frames either decode
    (to something) or raise ValueError — never hang, never crash with
    another exception type. Wall-clock bounded per mutation."""
    import time

    r = random.Random(42)
    base = zstd_compress(b"the quick brown fox jumps over the lazy dog. "
                         * 200)
    t0 = time.time()
    for _ in range(300):
        buf = bytearray(base)
        for _ in range(r.randint(1, 3)):
            buf[r.randrange(len(buf))] = r.randrange(256)
        try:
            zstd_decompress(bytes(buf))
        except ValueError:
            pass
    assert time.time() - t0 < 60, "fuzz loop too slow — hang risk"
