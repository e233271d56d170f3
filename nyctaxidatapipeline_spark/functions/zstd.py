"""Zstandard (RFC 8878) through the libzstd that pyarrow bundles.

The codec behind ``.jsonl.zst`` corpus shards (Dolma ships them) in
``sources/compressed.py``. pyarrow is already an engine requirement
(every ``mapInPandas`` zone, ``plans.util.local_frame``), and its
bundled libzstd is the reference implementation, so both directions
go through it:

* ``zstd_decompress`` reads through ``pa.CompressedInputStream``,
  which walks multi-frame streams (pzstd output) and skips skippable
  frames (seek tables). libzstd verifies each frame's content size
  and content checksum; every failure surfaces as ``ValueError``.
* ``zstd_compress`` emits one level-3 frame and adds the 4-byte
  content checksum (low 32 bits of :func:`xxh64` over the plaintext)
  that libzstd's one-shot encoder leaves out, so a flipped byte in a
  stored shard is caught on read. Output bytes are a pure function of
  the input for a given libzstd version.
"""

from __future__ import annotations

import pyarrow as pa

__all__ = ["xxh64", "zstd_decompress", "zstd_compress", "ZSTD_MAGIC"]

ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"
_FHD_CHECKSUM = 0x04  # frame-header-descriptor bit: checksum follows

# ---------------------------------------------------------------- xxh64

_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 (the zstd content-checksum hash), pure Python."""
    n = len(data)
    pos = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while pos + 32 <= n:
            v1 = _xxh_round(v1, int.from_bytes(data[pos:pos + 8], "little"))
            v2 = _xxh_round(v2, int.from_bytes(data[pos + 8:pos + 16],
                                               "little"))
            v3 = _xxh_round(v3, int.from_bytes(data[pos + 16:pos + 24],
                                               "little"))
            v4 = _xxh_round(v4, int.from_bytes(data[pos + 24:pos + 32],
                                               "little"))
            pos += 32
        acc = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
               + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            acc = ((acc ^ _xxh_round(0, v)) * _P1 + _P4) & _M64
    else:
        acc = (seed + _P5) & _M64
    acc = (acc + n) & _M64
    while pos + 8 <= n:
        acc = ((_rotl(acc ^ _xxh_round(
            0, int.from_bytes(data[pos:pos + 8], "little")), 27)
            * _P1) + _P4) & _M64
        pos += 8
    if pos + 4 <= n:
        acc = ((_rotl(acc ^ (int.from_bytes(data[pos:pos + 4], "little")
                             * _P1) & _M64, 23) * _P2) + _P3) & _M64
        pos += 4
    while pos < n:
        acc = (_rotl(acc ^ (data[pos] * _P5) & _M64, 11) * _P1) & _M64
        pos += 1
    acc ^= acc >> 33
    acc = (acc * _P2) & _M64
    acc ^= acc >> 29
    acc = (acc * _P3) & _M64
    acc ^= acc >> 32
    return acc


def zstd_decompress(data: bytes) -> bytes:
    """Decode a (possibly multi-frame) zstd stream; a corrupt, truncated
    or dictionary-compressed stream raises ``ValueError``."""
    try:
        with pa.CompressedInputStream(pa.BufferReader(data), "zstd") as s:
            return s.read()
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"corrupt zstd stream: {e}") from e


def zstd_compress(data: bytes) -> bytes:
    """One level-3 zstd frame carrying a content checksum."""
    frame = bytearray(pa.Codec("zstd", compression_level=3).compress(
        data, asbytes=True))
    frame[4] |= _FHD_CHECKSUM
    return bytes(frame) + (xxh64(data) & 0xFFFFFFFF).to_bytes(4, "little")
