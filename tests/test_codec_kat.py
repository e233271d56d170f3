"""Known-answer vectors for the compressed-shard codecs: decode-
direction pins against bytes no repo encoder produced.

* zstd — vendored frames in ``tests/data/kat_*.zst`` produced by the
  REAL libzstd encoder (zstd CLI v1.5.7, the reference implementation):
  levels 3 and 19, with and without content checksum, a concatenated
  two-frame stream (the pzstd shape) and a stream wrapped in skippable
  frames. The decoder must reproduce the exact plaintext.
* snappy — hand-assembled framing-format streams derived from the
  PUBLIC format descriptions (framing_format.txt + format_description
  .txt): literal and both copy element forms, compressed and
  uncompressed chunks, padding chunks. No encoder involved at all.
* PNG — a file assembled chunk-by-chunk from the PNG spec with stdlib
  zlib (an independent DEFLATE implementation) compressing the IDAT:
  pins ``decode_png`` against bytes no repo encoder produced.
"""

from __future__ import annotations

import os
import struct
import zlib

KAT_DIR = os.path.join(os.path.dirname(__file__), "data")

V1 = b"line one\nline two\n" * 200
V2 = bytes(range(256)) * 17
V3 = b"a"

ZSTD_KAT = {
    "kat_v1.zst": V1,             # level 3, checksummed
    "kat_v1_l19.zst": V1,         # level 19 (different block strategy)
    "kat_v2.zst": V2,             # high-entropy input
    "kat_v2_nock.zst": V2,        # --no-check (no content checksum)
    "kat_v3.zst": V3,             # 1-byte frame
    "kat_multi.zst": V1 + V2,     # two concatenated frames (pzstd)
    "kat_skip.zst": V1,           # skippable frames before AND after
}


def _kat(name: str) -> bytes:
    with open(os.path.join(KAT_DIR, name), "rb") as f:
        return f.read()


def test_zstd_pure_decodes_real_libzstd_frames():
    from nyctaxidatapipeline_spark.functions.zstd import zstd_decompress

    for name, want in ZSTD_KAT.items():
        assert zstd_decompress(_kat(name)) == want, name


def test_zstd_auto_routes_and_decodes_kat():
    """decompress_auto must sniff every vendored frame as zstd —
    including the one that LEADS with a skippable frame (pzstd seek
    tables): mis-sniffing it as plain text would silently corrupt a
    corpus read."""
    from nyctaxidatapipeline_spark.sources.compressed import (
        decompress_auto,
        sniff_codec,
    )

    for name, want in ZSTD_KAT.items():
        data = _kat(name)
        assert sniff_codec(data) == "zst", name
        assert decompress_auto(data) == want, name


# --- snappy: spec-assembled vectors (no encoder involved) ---------------

def _snappy_frame(chunks: list[tuple[int, bytes]]) -> bytes:
    out = bytearray(b"\xff\x06\x00\x00sNaPpY")
    for ctype, body in chunks:
        out += bytes([ctype]) + len(body).to_bytes(3, "little") + body
    return bytes(out)


def _crc_masked(payload: bytes) -> bytes:
    # spec-pinned Castagnoli CRC + masking (the same function the
    # TFRecord wire-byte pins already verify against the proto spec)
    from nyctaxidatapipeline_spark.functions.snappy import _masked_crc

    return _masked_crc(payload).to_bytes(4, "little")


def test_snappy_decodes_spec_assembled_stream():
    """Framed stream hand-built from the spec: an uncompressed chunk, a
    padding chunk, and COMPRESSED chunks whose raw-snappy blocks are
    hand-encoded (varint length; literal element tag (n-1)<<2; 2-byte-
    offset copy tag (n-1)<<2|2 with LE offset)."""
    from nyctaxidatapipeline_spark.functions.snappy import frame_decompress
    from nyctaxidatapipeline_spark.sources.compressed import (
        decompress_auto,
        sniff_codec,
    )

    plain1 = b"hello framed snappy"
    # raw snappy for b"abcdabcdabcdabcd": literal "abcd" + copy(off=4,
    # len=12) — the canonical overlapping-copy case (run extension)
    target = b"abcd" * 4
    raw = bytes([16]) + bytes([(4 - 1) << 2]) + b"abcd" \
        + bytes([((12 - 1) << 2) | 2]) + (4).to_bytes(2, "little")
    assert frame_decompress(_snappy_frame(
        [(0x00, _crc_masked(target) + raw)])) == target
    # 1-byte-offset copy form (tag 0x01): len 5, offset 4; len bits
    # (5-4)=1 in bits 2-4, offset high bits 0 in bits 5-7
    target2 = b"wxyz" + b"wxyzw"
    raw2 = bytes([9]) + bytes([(4 - 1) << 2]) + b"wxyz" \
        + bytes([(1 << 2) | 1, 4])
    assert frame_decompress(_snappy_frame(
        [(0x00, _crc_masked(target2) + raw2)])) == target2
    stream = _snappy_frame([
        (0x01, _crc_masked(plain1) + plain1),      # uncompressed chunk
        (0xFE, b"\x00" * 7),                       # padding: skipped
        (0x00, _crc_masked(target) + raw),         # compressed chunk
        (0x00, _crc_masked(target2) + raw2),
    ])
    assert frame_decompress(stream) == plain1 + target + target2
    assert sniff_codec(stream) == "snappy"
    assert decompress_auto(stream) == plain1 + target + target2


# --- PNG: spec-assembled file, stdlib-zlib IDAT -------------------------

def _chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


def test_png_decodes_spec_assembled_file():
    """PNG assembled from the spec with stdlib zlib compressing the
    scanlines — no repo encoder involved, so this pins decode_png
    against an independent producer (the role a PIL-written fixture
    would play; pillow is not installable here)."""
    from nyctaxidatapipeline_spark.functions.png import decode_png

    # 4x2 8-bit grayscale, filter 0 rows
    rows = bytes([0, 10, 20, 30, 40]) + bytes([0, 50, 60, 70, 80])
    ihdr = struct.pack(">IIBBBBB", 4, 2, 8, 0, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(rows))
           + _chunk(b"IEND", b""))
    w, h, ch, px = decode_png(png)
    assert (w, h, ch) == (4, 2, 1)
    assert px == bytes([10, 20, 30, 40, 50, 60, 70, 80])

    # 2x2 8-bit RGB with a filter-2 (Up) second row, IDAT split across
    # TWO chunks (the spec allows arbitrary IDAT segmentation)
    r0 = bytes([0, 1, 2, 3, 4, 5, 6])          # filter 0
    r1 = bytes([2, 10, 10, 10, 10, 10, 10])    # filter 2: adds row 0
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    z = zlib.compress(r0 + r1)
    mid = len(z) // 2
    png = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", z[:mid]) + _chunk(b"IDAT", z[mid:])
           + _chunk(b"IEND", b""))
    w, h, ch, px = decode_png(png)
    assert (w, h, ch) == (2, 2, 3)
    assert px == bytes([1, 2, 3, 4, 5, 6,
                        11, 12, 13, 14, 15, 16])
