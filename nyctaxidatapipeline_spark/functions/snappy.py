"""Framed Snappy — the framing format around pyarrow's bundled snappy.

The Hadoop/Kafka-ecosystem interchange codec (SequenceFiles, Kafka
message sets, many JSONL corpus mirrors), one of the five codecs
``sources/compressed.py`` sniffs. The framing format
(google/snappy framing_format.txt, public) is walked here; each
compressed chunk's raw block goes through ``pa.Codec("snappy")``,
the reference libsnappy that pyarrow already ships.

Framing format: 4-byte chunk headers (type + 24-bit LE length);
stream identifier chunk (0xff, "sNaPpY"), compressed (0x00) /
uncompressed (0x01) data chunks each carrying the MASKED CRC32C of
their uncompressed payload — mask = rotate-right-15 + 0xa282ead8, the
Castagnoli polynomial (0x82F63B78 reflected), table-driven below and
shared with ``functions/tfrecord.py``. Chunks cap at 65536
uncompressed bytes, so a shard decodes in bounded memory per chunk
and a corrupted chunk is localized by its checksum. A compressed
chunk's raw block starts with its uncompressed length as a varint;
that length comes from the stream, so it is checked against the cap
before it sizes Arrow's output buffer.
"""

from __future__ import annotations

import pyarrow as pa

__all__ = [
    "crc32c",
    "frame_compress",
    "frame_decompress",
    "FRAME_MAGIC",
]

#: The full stream-identifier chunk every framed stream starts with.
FRAME_MAGIC = b"\xff\x06\x00\x00sNaPpY"

_MAX_CHUNK = 65536  # max uncompressed bytes per framed chunk (spec)
_CODEC = pa.Codec("snappy")


def _crc32c_table() -> list[int]:
    poly = 0x82F63B78
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ poly if c & 1 else c >> 1
        table.append(c)
    return table


_CRC_TABLE = _crc32c_table()


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli), the framing format's checksum."""
    crc = 0xFFFFFFFF
    for byte in data:
        crc = (crc >> 8) ^ _CRC_TABLE[(crc ^ byte) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _masked_crc(data: bytes) -> int:
    c = crc32c(data)
    return (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def _varint(n: int) -> bytes:
    out = bytearray()
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("truncated snappy varint")
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 35:
            raise ValueError("snappy varint too long")


def _raw_decompress(raw: bytes) -> bytes:
    """One compressed chunk's raw snappy block, through Arrow."""
    n, _ = _read_varint(raw, 0)
    if n > _MAX_CHUNK:
        raise ValueError("chunk exceeds 65536-byte cap")
    try:
        return _CODEC.decompress(raw, decompressed_size=n, asbytes=True)
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"corrupt snappy chunk: {e}") from e


def frame_compress(data: bytes) -> bytes:
    """Framing-format encode: stream identifier + <=64 KiB compressed
    chunks, each with the masked CRC32C of its uncompressed payload.
    Chunks where compression doesn't help are stored uncompressed
    (type 0x01), per the spec's recommendation."""
    out = bytearray(FRAME_MAGIC)
    for off in range(0, len(data), _MAX_CHUNK) or [0]:
        chunk = data[off:off + _MAX_CHUNK]
        crc = _masked_crc(chunk).to_bytes(4, "little")
        comp = _CODEC.compress(chunk, asbytes=True)
        if len(comp) < len(chunk):
            body, ctype = crc + comp, 0x00
        else:
            body, ctype = crc + chunk, 0x01
        out.append(ctype)
        out += len(body).to_bytes(3, "little")
        out += body
    return bytes(out)


def frame_decompress(data: bytes) -> bytes:
    """Framing-format decode with checksum verification; skippable
    chunk types (0x80-0xfe, incl. padding 0xfe) are skipped, reserved
    unskippable types raise, as the spec requires."""
    if data[:len(FRAME_MAGIC)] != FRAME_MAGIC:
        raise ValueError("not a framed snappy stream (bad identifier)")
    pos = len(FRAME_MAGIC)
    out = bytearray()
    n = len(data)
    while pos < n:
        if pos + 4 > n:
            raise ValueError("truncated chunk header")
        ctype = data[pos]
        ln = int.from_bytes(data[pos + 1:pos + 4], "little")
        pos += 4
        if pos + ln > n:
            raise ValueError("truncated chunk body")
        body = data[pos:pos + ln]
        pos += ln
        if ctype in (0x00, 0x01):
            if ln < 4:
                raise ValueError("chunk too short for checksum")
            want = int.from_bytes(body[:4], "little")
            payload = (_raw_decompress(body[4:]) if ctype == 0x00
                       else bytes(body[4:]))
            if len(payload) > _MAX_CHUNK:
                raise ValueError("chunk exceeds 65536-byte cap")
            if _masked_crc(payload) != want:
                raise ValueError("snappy chunk checksum mismatch")
            out += payload
        elif ctype == 0xFF:
            if body != b"sNaPpY":
                raise ValueError("bad repeated stream identifier")
        elif 0x80 <= ctype <= 0xFE:
            continue  # skippable (padding etc.)
        else:
            raise ValueError(
                f"reserved unskippable snappy chunk type 0x{ctype:02x}")
    return bytes(out)
