"""Baseline-DCT JPEG codec — pure Python + numpy, no PIL/libjpeg.

Fills the ``multimodal.py`` compressed-image slot (a real corpus is
JPEG-first): sequential baseline JFIF (SOF0) AND progressive (SOF2 —
spectral selection, successive approximation, EOB runs; a real web
crawl is majority-progressive), 8-bit, grayscale or YCbCr with 4:4:4 /
4:2:0 sampling, standard Annex K quantization + Huffman tables, restart
markers. Same design ground rules as the sibling PNG /
AVI / WAV codecs (``png.py`` etc.): stdlib parsing, numpy only for the
8x8 transforms (the feature math must not be Python-loop bound), every
rounding step pinned to an explicit convention so decode results are
deterministic and — for DC-only blocks — exactly derivable in SQL:

  * quantization is half-up:   q = floor(F / Q + 0.5)
  * pixel output is half-up:   p = clamp(floor(x + 128 + 0.5), 0, 255)

For a CONSTANT 8x8 block of value c the whole transform collapses to
integer arithmetic: DC = 8*(c-128) exactly (float sums of <=2^53 ints
are exact), q = floor((c-128)*8/Q00 + 0.5), decoded pixel =
clamp(2*q + 128) for the standard Q00=16 — which is what lets the
registered ``image_features_jpeg`` query keep full value-hash parity
with a DuckDB twin while still running the complete marker/Huffman/
bit-unstuffing/dequant/IDCT pipeline. General images are exercised by
tolerance-bounded encode->decode roundtrip tests (the decoder and
encoder are independent transform implementations, so a defect in
either surfaces as large reconstruction error).

Progressive decode accumulates per-component coefficient grids across
scans (DC first/refine, AC band first/refine per ITU T.81 G.2, with
the libjpeg-compatible EOB-run + correction-bit order) and runs one
vectorized dequant+IDCT at EOI — so ``decode_jpeg`` transparently
handles both SOF0 and SOF2 streams. ``encode_jpeg_progressive``
produces SOF2 streams (default libjpeg-style scan script, custom
scripts, restart markers) whose decode is byte-identical to the
baseline encoding of the same image — the roundtrip gate.

Not supported (documented slots, like PNG's interlace): arithmetic
coding, lossless/hierarchical, 12-bit precision, CMYK —
``decode_jpeg`` raises ``ValueError`` on them, which the multimodal
layer maps to NULL features per its convention.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- tables

#: zig-zag scan order: ZIGZAG[i] = block index (row*8+col) of the i-th
#: coefficient in scan order.
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

#: Annex K.1 luminance / K.2 chrominance quantization tables (quality 50),
#: in natural (row-major) order.
STD_LUMA_QT = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
STD_CHROMA_QT = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

#: Annex K.3 typical Huffman tables: (BITS counts per code length 1..16,
#: HUFFVAL symbol list).
DC_LUMA_HUFF = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
                list(range(12)))
DC_CHROMA_HUFF = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                  list(range(12)))
AC_LUMA_HUFF = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
AC_CHROMA_HUFF = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix — identical (in exact math) to
    the JPEG Annex A definition with its 1/4·Cu·Cv scaling."""
    c = np.zeros((8, 8))
    for u in range(8):
        for x in range(8):
            c[u, x] = np.sqrt(0.125 if u == 0 else 0.25) * \
                np.cos((2 * x + 1) * u * np.pi / 16)
    return c


_C = _dct_matrix()


def _huff_encode_map(bits: list[int], vals: list[int]) -> dict[int, tuple]:
    """symbol -> (code, length) per the canonical JPEG code assignment."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_lut(bits: tuple, vals: tuple) -> list:
    """16-bit-prefix lookup table: ``lut[next16bits] -> (symbol,
    code_length)`` (None for invalid prefixes). Cached per table —
    the Annex K standard tables build once per process, per-image DHT
    segments with identical contents hit the cache too."""
    cached = _LUT_CACHE.get((bits, vals))
    if cached is not None:
        return cached
    lut: list = [None] * 65536
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            base = code << (16 - length)
            span = 1 << (16 - length)
            lut[base:base + span] = [(vals[k], length)] * span
            code += 1
            k += 1
        code <<= 1
    _LUT_CACHE[(bits, vals)] = lut
    return lut


_LUT_CACHE: dict = {}


def _category(v: int) -> int:
    """JPEG magnitude category (bit length of |v|)."""
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _quantize(f: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Half-up quantization: floor(F/Q + 0.5) — the pinned convention.

    The DCT is pre-snapped to 6 dp: exact-integer coefficients (every
    constant block) carry ~1e-13 float-matmul noise that would land
    F/Q + 0.5 EXACTLY on an integer and let the noise sign flip the
    floor — snapping first makes the boundary deterministic and equal
    to the exact-arithmetic result the SQL twin computes."""
    return np.floor(np.round(f, 6) / q + 0.5).astype(np.int32)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:           # byte stuffing
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            self.write(0x7F, 8 - self.n)  # pad with 1-bits per spec


class _BitReader:
    """Entropy-segment bit reader: unstuffs 0xFF00, stops at markers
    (leaving them for the caller), rejects premature truncation.

    Reads are chunked, not per-bit: ``bits(k)`` fills the accumulator
    bytewise and extracts ``k`` bits in one shift, and ``peek16`` +
    ``consume`` support the LUT Huffman decoder (``_huff_symbol``) —
    the per-bit/per-level loops measured as the decode hot spot at
    bench scale (hundreds of images per task)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("jpeg: truncated entropy stream")
        b = d[self.pos]
        if b == 0xFF:
            if self.pos + 1 < len(d) and d[self.pos + 1] == 0x00:
                self.pos += 2          # stuffed 0xFF
            else:
                raise ValueError("jpeg: marker inside entropy decode")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.n += 8

    def _fill_soft(self) -> bool:
        """Like ``_fill`` but returns False at a marker / stream end
        instead of raising — lets ``peek16`` look ahead across the
        final partial byte of a scan (JPEG pads scans with 1-bits, so
        the pad is synthesized at lookup time, never consumed)."""
        d = self.data
        if self.pos >= len(d):
            return False
        b = d[self.pos]
        if b == 0xFF:
            if self.pos + 1 < len(d) and d[self.pos + 1] == 0x00:
                self.pos += 2
            else:
                return False
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.n += 8
        return True

    def bit(self) -> int:
        if not self.n:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        while self.n < k:
            self._fill()
        self.n -= k
        return (self.acc >> self.n) & ((1 << k) - 1)

    def peek16(self) -> int:
        """Next 16 bits MSB-first, 1-padded past the end of the
        entropy segment (the spec's pad convention); does not
        consume."""
        while self.n < 16 and self._fill_soft():
            pass
        if self.n >= 16:
            return (self.acc >> (self.n - 16)) & 0xFFFF
        pad = 16 - self.n
        return ((self.acc << pad) | ((1 << pad) - 1)) & 0xFFFF

    def consume(self, k: int) -> None:
        if k > self.n:
            raise ValueError("jpeg: truncated entropy stream")
        self.n -= k

    def align_to_marker(self) -> None:
        """Drop partial byte and return position to the 0xFF marker."""
        self.acc = 0
        self.n = 0


def _extend(v: int, size: int) -> int:
    """EXTEND per F.2.2.1: map a ``size``-bit magnitude to its signed
    value."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


# ---------------------------------------------------------------- encode

def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    """JFIF color transform on float64 (h, w, 3) in, same shape out."""
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.stack([y, cb, cr], axis=-1)


def _encode_block(bw: _BitWriter, block: np.ndarray, qt: np.ndarray,
                  pred: int, dc_map: dict, ac_map: dict) -> int:
    """DCT -> quantize -> zigzag -> Huffman one 8x8 block; returns the
    new DC predictor."""
    f = _C @ (block - 128.0) @ _C.T
    q = _quantize(f, qt)
    zz = [int(q.flat[ZIGZAG[i]]) for i in range(64)]
    diff = zz[0] - pred
    size = _category(diff)
    code, length = dc_map[size]
    bw.write(code, length)
    if size:
        bw.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
    run = 0
    last_nz = 0
    for i in range(63, 0, -1):
        if zz[i]:
            last_nz = i
            break
    for i in range(1, last_nz + 1):
        v = zz[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_map[0xF0]      # ZRL
            bw.write(code, length)
            run -= 16
        size = _category(v)
        code, length = ac_map[(run << 4) | size]
        bw.write(code, length)
        bw.write(v if v >= 0 else v + (1 << size) - 1, size)
        run = 0
    if last_nz < 63:
        code, length = ac_map[0x00]          # EOB
        bw.write(code, length)
    return zz[0]


def _pad_to(plane: np.ndarray, h: int, w: int) -> np.ndarray:
    """Edge-replicate pad to (h, w) — the spec-recommended extension."""
    ph, pw = plane.shape
    if ph == h and pw == w:
        return plane
    return np.pad(plane, ((0, h - ph), (0, w - pw)), mode="edge")


def encode_jpeg(width: int, height: int, pixels: bytes,
                channels: int = 1, subsampling: str = "444") -> bytes:
    """Baseline JFIF encode. ``pixels``: row-major bytes, interleaved
    RGB when ``channels=3`` (gray when 1). ``subsampling``: '444' or
    '420' (ignored for grayscale). Standard Annex K tables at their
    published (quality-50) values."""
    if channels not in (1, 3):
        raise ValueError("channels must be 1 or 3")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer size mismatch")
    arr = np.frombuffer(pixels, dtype=np.uint8).astype(np.float64)
    luma_qt = np.array(STD_LUMA_QT, dtype=np.float64).reshape(8, 8)
    chroma_qt = np.array(STD_CHROMA_QT, dtype=np.float64).reshape(8, 8)

    if channels == 1:
        planes = [arr.reshape(height, width)]
        samp = [(1, 1)]
        qts = [luma_qt]
    else:
        ycc = _rgb_to_ycbcr(arr.reshape(height, width, 3))
        y, cb, cr = ycc[..., 0], ycc[..., 1], ycc[..., 2]
        if subsampling == "444":
            planes, samp = [y, cb, cr], [(1, 1), (1, 1), (1, 1)]
        else:
            # 4:2:0 — chroma = 2x2 mean over an even-padded plane
            eh, ew = (height + 1) // 2 * 2, (width + 1) // 2 * 2
            cbp = _pad_to(cb, eh, ew).reshape(eh // 2, 2, ew // 2, 2) \
                                     .mean(axis=(1, 3))
            crp = _pad_to(cr, eh, ew).reshape(eh // 2, 2, ew // 2, 2) \
                                     .mean(axis=(1, 3))
            planes, samp = [y, cbp, crp], [(2, 2), (1, 1), (1, 1)]
        qts = [luma_qt, chroma_qt, chroma_qt]

    hmax = max(h for h, _ in samp)
    vmax = max(v for _, v in samp)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    # pad each plane to its MCU-aligned size
    padded = []
    for pl, (h, v) in zip(planes, samp):
        padded.append(_pad_to(pl, mcuy * v * 8, mcux * h * 8))

    dc_maps = [_huff_encode_map(*DC_LUMA_HUFF)]
    ac_maps = [_huff_encode_map(*AC_LUMA_HUFF)]
    if channels == 3:
        dc_maps.append(_huff_encode_map(*DC_CHROMA_HUFF))
        ac_maps.append(_huff_encode_map(*AC_CHROMA_HUFF))

    bw = _BitWriter()
    preds = [0] * channels
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(channels):
                h, v = samp[ci]
                t = min(ci, 1)
                for by in range(v):
                    for bx in range(h):
                        r0 = (my * v + by) * 8
                        c0 = (mx * h + bx) * 8
                        block = padded[ci][r0:r0 + 8, c0:c0 + 8]
                        preds[ci] = _encode_block(
                            bw, block, qts[ci], preds[ci],
                            dc_maps[t], ac_maps[t])
    bw.flush()

    out = bytearray(b"\xFF\xD8")                       # SOI
    out += b"\xFF\xE0" + struct.pack(">H", 16) + \
        b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"  # APP0
    # DQT
    def dqt(tid: int, table: list[int]) -> bytes:
        zz = bytes(table[ZIGZAG[i]] for i in range(64))
        return b"\xFF\xDB" + struct.pack(">H", 67) + bytes([tid]) + zz
    out += dqt(0, STD_LUMA_QT)
    if channels == 3:
        out += dqt(1, STD_CHROMA_QT)
    # SOF0
    comp = b""
    for ci in range(channels):
        h, v = samp[ci]
        comp += bytes([ci + 1, (h << 4) | v, min(ci, 1)])
    out += b"\xFF\xC0" + struct.pack(">HBHHB", 8 + 3 * channels, 8,
                                     height, width, channels) + comp
    # DHT
    def dht(cls: int, tid: int, table: tuple) -> bytes:
        bits, vals = table
        body = bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
        return b"\xFF\xC4" + struct.pack(">H", 2 + len(body)) + body
    out += dht(0, 0, DC_LUMA_HUFF) + dht(1, 0, AC_LUMA_HUFF)
    if channels == 3:
        out += dht(0, 1, DC_CHROMA_HUFF) + dht(1, 1, AC_CHROMA_HUFF)
    # SOS
    sel = b""
    for ci in range(channels):
        t = min(ci, 1)
        sel += bytes([ci + 1, (t << 4) | t])
    out += b"\xFF\xDA" + struct.pack(">HB", 6 + 2 * channels, channels) \
        + sel + b"\x00\x3F\x00"
    out += bw.out
    out += b"\xFF\xD9"                                  # EOI
    return bytes(out)


# ---------------------------------------------------------------- decode

def decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a baseline (SOF0) JPEG. Returns (width, height, channels,
    pixels) with pixels row-major, interleaved RGB for 3 components
    (JFIF YCbCr->RGB), gray bytes for 1. Raises ``ValueError`` on
    non-JPEG input, progressive/arithmetic streams, or corruption —
    ONLY ValueError: the multimodal layer maps it to NULL features, so
    a malformed stream must never surface a struct/index error that
    would kill the executor kernel instead (fuzz-gated in tests)."""
    try:
        return _decode_jpeg(data)
    except (struct.error, IndexError, KeyError) as exc:
        raise ValueError(f"jpeg: malformed stream ({exc})") from exc


def _decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    if len(data) < 4 or data[0:2] != b"\xFF\xD8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    frame = None
    restart = 0
    coefs: list[np.ndarray] | None = None   # progressive coefficient store
    scans_done = 0
    # + 2, not + 4: the final EOI is exactly two bytes — progressive
    # decode must still see it (segment reads past the end raise via
    # struct.error -> ValueError in the decode_jpeg wrapper).
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("jpeg: bad marker alignment")
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            if frame is not None and frame.get("prog") and scans_done:
                return _finish_progressive(frame, coefs, qts)
            raise ValueError("jpeg: EOI before SOS")
        seglen = struct.unpack(">H", data[pos:pos + 2])[0]
        seg = data[pos + 2:pos + seglen]
        if marker == 0xDB:                                # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                if pq != 0:
                    raise ValueError("jpeg: 16-bit DQT unsupported")
                zz = seg[i + 1:i + 65]
                t = np.zeros(64)
                for k in range(64):
                    t[ZIGZAG[k]] = zz[k]
                qts[tq] = t.reshape(8, 8)
                i += 65
        elif marker == 0xC4:                              # DHT
            i = 0
            while i < len(seg):
                cls, tid = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1:i + 17])
                n = sum(bits)
                vals = list(seg[i + 17:i + 17 + n])
                (dc_tabs if cls == 0 else ac_tabs)[tid] = \
                    _huff_decode_lut(tuple(bits), tuple(vals))
                i += 17 + n
        elif marker == 0xDD:                              # DRI
            restart = struct.unpack(">H", seg[:2])[0]
        elif marker in (0xC0, 0xC1, 0xC2):                # SOF0/1/2
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError("jpeg: only 8-bit precision")
            if nc not in (1, 3):
                raise ValueError("jpeg: only 1 or 3 components")
            comps = []
            for ci in range(nc):
                cid, hv, tq = seg[6 + 3 * ci:9 + 3 * ci]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F,
                              "tq": tq})
            frame = {"w": w, "h": h, "comps": comps,
                     "prog": marker == 0xC2}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("jpeg: lossless/arithmetic/hierarchical "
                             "coding unsupported")
        elif marker == 0xDA:                              # SOS
            if frame is None:
                raise ValueError("jpeg: SOS before SOF")
            if frame.get("prog"):
                if coefs is None:
                    coefs = _prog_alloc(frame)
                pos = _prog_scan(data, pos + seglen, seg, frame, coefs,
                                 dc_tabs, ac_tabs, restart)
                scans_done += 1
                continue
            ns = seg[0]
            sel = {}
            for si in range(ns):
                cid, tt = seg[1 + 2 * si:3 + 2 * si]
                sel[cid] = (tt >> 4, tt & 0x0F)
            return _decode_scan(data, pos + seglen, frame, sel, qts,
                                dc_tabs, ac_tabs, restart)
        pos += seglen
    if frame is not None and frame.get("prog") and scans_done:
        # A truncated progressive stream could IDCT to a plausible
        # partial (DC-only) image — require the EOI so silent partial
        # features can never masquerade as a full decode (the
        # multimodal layer maps this to NULL features instead).
        raise ValueError("jpeg: truncated progressive stream (no EOI)")
    raise ValueError("jpeg: no SOS marker")


def _huff_symbol(br: _BitReader, lut: list) -> int:
    """One-lookup Huffman decode: peek 16 bits, index the prefix LUT,
    consume the matched code's length. Replaces the per-bit walk that
    dominated decode profiles (one dict probe per code LEVEL)."""
    e = lut[br.peek16()]
    if e is None:
        raise ValueError("jpeg: invalid Huffman code")
    br.consume(e[1])
    return e[0]


def _decode_scan(data, pos, frame, sel, qts, dc_tabs, ac_tabs, restart):
    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    nc = len(comps)
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax not in (1, 2) or vmax not in (1, 2):
        raise ValueError("jpeg: sampling factors beyond 2 unsupported")
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = [np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8),
                       dtype=np.uint8) for c in comps]
    br = _BitReader(data, pos)
    preds = [0] * nc
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_count and mcu_count % restart == 0:
                br.align_to_marker()
                p = br.pos
                if data[p] != 0xFF or not (0xD0 <= data[p + 1] <= 0xD7):
                    raise ValueError("jpeg: expected RST marker")
                br.pos = p + 2
                preds = [0] * nc
            for ci, c in enumerate(comps):
                dct, act = sel[c["id"]]
                qt = qts[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        blk = _decode_block(br, qt, dc_tabs[dct],
                                            ac_tabs[act], preds, ci)
                        r0 = (my * c["v"] + by) * 8
                        c0 = (mx * c["h"] + bx) * 8
                        planes[ci][r0:r0 + 8, c0:c0 + 8] = blk
            mcu_count += 1
    return _planes_to_pixels(frame, planes)


def _planes_to_pixels(frame, planes) -> tuple[int, int, int, bytes]:
    """Shared decode tail (baseline + progressive): crop each plane to
    luma resolution, upsample chroma by pixel replication, apply the
    JFIF inverse color transform with the pinned half-up rounding."""
    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    nc = len(comps)
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    out_planes = []
    for ci, c in enumerate(comps):
        pl = planes[ci]
        fy, fx = vmax // c["v"], hmax // c["h"]
        if fy > 1 or fx > 1:
            pl = np.repeat(np.repeat(pl, fy, axis=0), fx, axis=1)
        out_planes.append(pl[:h, :w])
    if nc == 1:
        return w, h, 1, out_planes[0].tobytes()
    y = out_planes[0].astype(np.float64)
    cb = out_planes[1].astype(np.float64) - 128.0
    cr = out_planes[2].astype(np.float64) - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    rgb = np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)
    return w, h, 3, rgb.tobytes()


def _decode_block(br, qt, dc_tab, ac_tab, preds, ci):
    zz = np.zeros(64, dtype=np.float64)
    size = _huff_symbol(br, dc_tab)
    diff = _extend(br.bits(size), size) if size else 0
    preds[ci] += diff
    zz[0] = preds[ci]
    k = 1
    while k < 64:
        sym = _huff_symbol(br, ac_tab)
        if sym == 0x00:              # EOB
            break
        if sym == 0xF0:              # ZRL
            k += 16
            continue
        run, size = sym >> 4, sym & 0x0F
        k += run
        if k > 63 or size == 0:
            raise ValueError("jpeg: AC coefficient overflow")
        zz[k] = _extend(br.bits(size), size)
        k += 1
    f = np.zeros((8, 8))
    for i in range(64):
        f.flat[ZIGZAG[i]] = zz[i]
    f *= qt
    x = _C.T @ f @ _C
    # pinned half-up output rounding (see module docstring)
    return np.clip(np.floor(x + 128.0 + 0.5), 0, 255).astype(np.uint8)


# ------------------------------------------------------- progressive decode

def _prog_alloc(frame) -> list[np.ndarray]:
    """Per-component coefficient store over the MCU-padded block grid:
    int32 (blocks_y, blocks_x, 64) in ZIGZAG-scan index order.
    Progressive scans accumulate into it; IDCT happens once at EOI."""
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (frame["w"] + 8 * hmax - 1) // (8 * hmax)
    mcuy = (frame["h"] + 8 * vmax - 1) // (8 * vmax)
    return [np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32)
            for c in comps]


def _comp_block_dims(frame, c) -> tuple[int, int]:
    """(blocks_wide, blocks_high) of a component's USED region for a
    non-interleaved scan (A.2.2): ceil(ceil(dim·samp/sampmax) / 8)."""
    comps = frame["comps"]
    hmax = max(x["h"] for x in comps)
    vmax = max(x["v"] for x in comps)
    cw = -(-(frame["w"] * c["h"]) // hmax)
    ch = -(-(frame["h"] * c["v"]) // vmax)
    return -(-cw // 8), -(-ch // 8)


def _prog_dc_first(br, dc_tab, zz, preds, ci, al) -> None:
    size = _huff_symbol(br, dc_tab)
    diff = _extend(br.bits(size), size) if size else 0
    preds[ci] += diff
    zz[0] = preds[ci] << al


def _prog_dc_refine(br, zz, al) -> None:
    if br.bit():
        zz[0] |= 1 << al           # two's-complement append (G.2.1)


def _prog_ac_first(br, ac_tab, zz, ss, se, al, state) -> None:
    """First AC scan of a band (G.2.2): EOB runs + new coefficients
    scaled by 2^Al."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        sym = _huff_symbol(br, ac_tab)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r == 15:            # ZRL
                k += 16
                continue
            state["eobrun"] = (1 << r) - 1
            if r:
                state["eobrun"] += br.bits(r)
            return
        k += r
        if k > se:
            raise ValueError("jpeg: AC band overflow (progressive)")
        zz[k] = _extend(br.bits(s), s) << al
        k += 1


def _prog_ac_refine(br, ac_tab, zz, ss, se, al, state) -> None:
    """AC refinement scan (G.2.3 / libjpeg decode_mcu_AC_refine): one
    correction bit per already-nonzero coefficient passed over; (run,1)
    symbols place newly-nonzero ±2^Al values; EOB runs carry correction
    bits for the remaining nonzero history."""
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            sym = _huff_symbol(br, ac_tab)
            r, s = sym >> 4, sym & 0x0F
            if s == 0:
                if r != 15:
                    state["eobrun"] = 1 << r
                    if r:
                        state["eobrun"] += br.bits(r)
                    break
                val = 0            # ZRL: skip 16 zero-history coefs
            else:
                if s != 1:
                    raise ValueError(
                        "jpeg: bad refinement coefficient size")
                val = p1 if br.bit() else m1
            while k <= se:
                c = int(zz[k])
                if c != 0:
                    if br.bit() and (c & p1) == 0:
                        zz[k] = c + (p1 if c > 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                zz[k] = val
            k += 1
    if state["eobrun"] > 0:
        while k <= se:
            c = int(zz[k])
            if c != 0 and br.bit() and (c & p1) == 0:
                zz[k] = c + (p1 if c > 0 else m1)
            k += 1
        state["eobrun"] -= 1


def _prog_scan(data, pos, seg, frame, coefs, dc_tabs, ac_tabs,
               restart) -> int:
    """Decode one progressive SOS entropy segment; returns the position
    of the next marker. DC scans may be interleaved (MCU order); AC
    scans are single-component over the used block grid (A.2.2 /
    G.1.1)."""
    comps = frame["comps"]
    ns = seg[0]
    sel = []
    for si in range(ns):
        cid, tt = seg[1 + 2 * si:3 + 2 * si]
        matches = [i for i, c in enumerate(comps) if c["id"] == cid]
        if not matches:
            raise ValueError("jpeg: scan references unknown component")
        sel.append((matches[0], tt >> 4, tt & 0x0F))
    ss, se, ahal = seg[1 + 2 * ns:4 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0x0F
    if ss == 0 and se != 0:
        raise ValueError("jpeg: DC scan must have Se=0")
    if ss > 0 and (ns != 1 or se < ss or se > 63):
        raise ValueError("jpeg: bad AC band")
    br = _BitReader(data, pos)
    state = {"eobrun": 0}
    preds = [0] * len(comps)
    mcu_count = 0

    def do_restart():
        nonlocal preds
        br.align_to_marker()
        p = br.pos
        if p + 1 >= len(data) or data[p] != 0xFF or \
                not (0xD0 <= data[p + 1] <= 0xD7):
            raise ValueError("jpeg: expected RST marker")
        br.pos = p + 2
        preds = [0] * len(comps)
        state["eobrun"] = 0

    if ns == 1:
        # non-interleaved: the component's used blocks in raster order
        ci, dct, act = sel[0]
        c = comps[ci]
        bw, bh = _comp_block_dims(frame, c)
        for bi in range(bw * bh):
            if restart and bi and bi % restart == 0:
                do_restart()
            by, bx = divmod(bi, bw)
            zz = coefs[ci][by, bx]
            if ss == 0:
                if ah == 0:
                    _prog_dc_first(br, dc_tabs[dct], zz, preds, ci, al)
                else:
                    _prog_dc_refine(br, zz, al)
            elif ah == 0:
                _prog_ac_first(br, ac_tabs[act], zz, ss, se, al, state)
            else:
                _prog_ac_refine(br, ac_tabs[act], zz, ss, se, al, state)
    else:
        if ss != 0:
            raise ValueError("jpeg: interleaved AC scan")
        hmax = max(c["h"] for c in comps)
        vmax = max(c["v"] for c in comps)
        mcux = (frame["w"] + 8 * hmax - 1) // (8 * hmax)
        mcuy = (frame["h"] + 8 * vmax - 1) // (8 * vmax)
        for my in range(mcuy):
            for mx in range(mcux):
                if restart and mcu_count and mcu_count % restart == 0:
                    do_restart()
                for ci, dct, _act in sel:
                    c = comps[ci]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            zz = coefs[ci][my * c["v"] + by,
                                           mx * c["h"] + bx]
                            if ah == 0:
                                _prog_dc_first(br, dc_tabs[dct], zz,
                                               preds, ci, al)
                            else:
                                _prog_dc_refine(br, zz, al)
                mcu_count += 1
    br.align_to_marker()
    return br.pos


def _finish_progressive(frame, coefs, qts) -> tuple[int, int, int, bytes]:
    """Dequantize + IDCT every accumulated block (vectorized over the
    whole component — one einsum per plane, not a Python loop per
    block) and run the shared assembly tail."""
    comps = frame["comps"]
    planes = []
    for ci, c in enumerate(comps):
        qt = qts.get(c["tq"])
        if qt is None:
            raise ValueError("jpeg: missing quantization table")
        grid = coefs[ci]
        by, bx = grid.shape[0], grid.shape[1]
        zz_all = grid.reshape(by * bx, 64).astype(np.float64)
        nat = np.zeros_like(zz_all)
        nat[:, ZIGZAG] = zz_all            # scan order -> natural order
        blocks = nat.reshape(-1, 8, 8) * qt
        x = _C.T @ blocks @ _C
        px = np.clip(np.floor(x + 128.0 + 0.5), 0, 255).astype(np.uint8)
        plane = (px.reshape(by, bx, 8, 8)
                   .transpose(0, 2, 1, 3)
                   .reshape(by * 8, bx * 8))
        planes.append(plane)
    return _planes_to_pixels(frame, planes)


# ------------------------------------------------------- progressive encode

#: Generic AC Huffman table for progressive scans: 255 symbols at code
#: length 9 plus one at length 10 (a BITS entry is one byte, so 256
#: codes can't share a length; Kraft sum 255/512 + 1/1024 < 1 and the
#: all-ones code stays unused). The Annex K baseline AC tables lack the
#: EOBn symbols (0x10..0xE0) progressive EOB runs need; a fixed generic
#: table keeps the encoder table-free at a compression cost tests don't
#: care about.
GENERIC_AC_HUFF = ([0, 0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0],
                   list(range(256)))


class _AcFirstState:
    __slots__ = ("eobrun",)

    def __init__(self):
        self.eobrun = 0


class _AcRefineState:
    """Two correction-bit pools (libjpeg's BR/BE split): ``br`` holds
    bits accumulated since the last emitted symbol of the CURRENT
    block (flushed right after that symbol, where the decoder reads
    them inline); ``be`` holds bits owned by the pending EOB run
    (flushed after the eventual EOBn symbol, where the decoder reads
    them while refining the run's blocks)."""
    __slots__ = ("eobrun", "br", "be")

    def __init__(self):
        self.eobrun = 0
        self.br = []
        self.be = []


def _emit_eobrun_first(bw, ac_map, st) -> None:
    if st.eobrun > 0:
        nbits = st.eobrun.bit_length() - 1
        code, length = ac_map[nbits << 4]
        bw.write(code, length)
        if nbits:
            bw.write(st.eobrun, nbits)
        st.eobrun = 0


def _emit_eobrun_refine(bw, ac_map, st) -> None:
    if st.eobrun > 0:
        nbits = st.eobrun.bit_length() - 1
        code, length = ac_map[nbits << 4]
        bw.write(code, length)
        if nbits:
            bw.write(st.eobrun, nbits)
        st.eobrun = 0
        for b in st.be:
            bw.write(b, 1)
        st.be = []


def _enc_dc_first(bw, zz, preds, ci, al, dc_map) -> None:
    v = int(zz[0]) >> al                   # arithmetic shift (G.1.2.1)
    diff = v - preds[ci]
    preds[ci] = v
    size = _category(diff)
    code, length = dc_map[size]
    bw.write(code, length)
    if size:
        bw.write(diff if diff >= 0 else diff + (1 << size) - 1, size)


def _enc_dc_refine(bw, zz, al) -> None:
    bw.write((int(zz[0]) >> al) & 1, 1)


def _enc_ac_first(bw, zz, ss, se, al, ac_map, st) -> None:
    """G.1.2.2 / libjpeg encode_mcu_AC_first: point transform is
    magnitude shift (truncation toward zero), runs + EOB runs."""
    r = 0
    for k in range(ss, se + 1):
        v = int(zz[k])
        t = (-v if v < 0 else v) >> al
        if t == 0:
            r += 1
            continue
        _emit_eobrun_first(bw, ac_map, st)
        while r > 15:
            code, length = ac_map[0xF0]
            bw.write(code, length)
            r -= 16
        nbits = t.bit_length()
        code, length = ac_map[(r << 4) | nbits]
        bw.write(code, length)
        bw.write(t if v >= 0 else ~t, nbits)
        r = 0
    if r > 0:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            _emit_eobrun_first(bw, ac_map, st)


def _enc_ac_refine(bw, zz, ss, se, al, ac_map, st) -> None:
    """G.1.2.3 / libjpeg encode_mcu_AC_refine."""
    absv = [0] * (se + 1)
    eob = 0
    for k in range(ss, se + 1):
        v = int(zz[k])
        t = (-v if v < 0 else v) >> al
        absv[k] = t
        if t == 1:
            eob = k
    r = 0
    for k in range(ss, se + 1):
        t = absv[k]
        if t == 0:
            r += 1
            continue
        while r > 15 and k <= eob:
            _emit_eobrun_refine(bw, ac_map, st)
            code, length = ac_map[0xF0]
            bw.write(code, length)
            r -= 16
            for b in st.br:
                bw.write(b, 1)
            st.br = []
        if t > 1:                      # history coef: correction bit
            st.br.append(t & 1)
            continue
        _emit_eobrun_refine(bw, ac_map, st)
        code, length = ac_map[(r << 4) | 1]
        bw.write(code, length)
        bw.write(0 if int(zz[k]) < 0 else 1, 1)
        for b in st.br:
            bw.write(b, 1)
        st.br = []
        r = 0
    if r > 0 or st.br:
        st.eobrun += 1
        st.be += st.br
        st.br = []
        if st.eobrun == 0x7FFF:
            _emit_eobrun_refine(bw, ac_map, st)


def _quantized_coef_grids(width, height, pixels, channels, subsampling):
    """Shared front half of encoding: color transform, subsample, pad,
    batched DCT + quantization. Returns (coefs, samp) with ``coefs`` a
    per-component int32 (blocks_y, blocks_x, 64) array in ZIGZAG scan
    order — the progressive encoder's working set."""
    if channels not in (1, 3):
        raise ValueError("channels must be 1 or 3")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer size mismatch")
    arr = np.frombuffer(pixels, dtype=np.uint8).astype(np.float64)
    luma_qt = np.array(STD_LUMA_QT, dtype=np.float64).reshape(8, 8)
    chroma_qt = np.array(STD_CHROMA_QT, dtype=np.float64).reshape(8, 8)
    if channels == 1:
        planes, samp, qts = [arr.reshape(height, width)], [(1, 1)], \
            [luma_qt]
    else:
        ycc = _rgb_to_ycbcr(arr.reshape(height, width, 3))
        y, cb, cr = ycc[..., 0], ycc[..., 1], ycc[..., 2]
        if subsampling == "444":
            planes, samp = [y, cb, cr], [(1, 1), (1, 1), (1, 1)]
        else:
            eh, ew = (height + 1) // 2 * 2, (width + 1) // 2 * 2
            cbp = _pad_to(cb, eh, ew).reshape(eh // 2, 2, ew // 2, 2) \
                                     .mean(axis=(1, 3))
            crp = _pad_to(cr, eh, ew).reshape(eh // 2, 2, ew // 2, 2) \
                                     .mean(axis=(1, 3))
            planes, samp = [y, cbp, crp], [(2, 2), (1, 1), (1, 1)]
        qts = [luma_qt, chroma_qt, chroma_qt]
    hmax = max(h for h, _ in samp)
    vmax = max(v for _, v in samp)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    coefs = []
    for pl, (h, v), qt in zip(planes, samp, qts):
        by, bx = mcuy * v, mcux * h
        padded = _pad_to(pl, by * 8, bx * 8)
        blocks = (padded.reshape(by, 8, bx, 8)
                        .transpose(0, 2, 1, 3)
                        .reshape(-1, 8, 8)) - 128.0
        f = _C @ blocks @ _C.T
        q = np.floor(np.round(f, 6) / qt + 0.5).astype(np.int32)
        nat = q.reshape(-1, 64)
        zz = nat[:, ZIGZAG]                # natural -> scan order
        coefs.append(zz.reshape(by, bx, 64))
    return coefs, samp


def encode_jpeg_progressive(width: int, height: int, pixels: bytes,
                            channels: int = 1, subsampling: str = "444",
                            scans=None,
                            restart_interval: int = 0) -> bytes:
    """Progressive (SOF2) JFIF encode — spectral selection + successive
    approximation, EOB runs, optional restart markers. Default scan
    script (libjpeg-style): DC first at Al=1, DC refinement, then per
    component AC bands 1-5 / 6-63 at Al=2 and two AC refinement passes
    down to Al=0 — every scan reaches full precision, so the decode is
    byte-identical to the baseline encoding of the same image (the
    roundtrip gate in tests). ``scans`` overrides with a list of
    (component_indices, Ss, Se, Ah, Al)."""
    coefs, samp = _quantized_coef_grids(width, height, pixels,
                                        channels, subsampling)
    nc = channels
    if scans is None:
        scans = [(list(range(nc)), 0, 0, 0, 1),
                 (list(range(nc)), 0, 0, 1, 0)]
        for c in range(nc):
            scans += [([c], 1, 5, 0, 2), ([c], 6, 63, 0, 2),
                      ([c], 1, 63, 2, 1), ([c], 1, 63, 1, 0)]

    hmax = max(h for h, _ in samp)
    vmax = max(v for _, v in samp)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    frame = {"w": width, "h": height,
             "comps": [{"id": ci + 1, "h": samp[ci][0], "v": samp[ci][1],
                        "tq": min(ci, 1)} for ci in range(nc)]}

    out = bytearray(b"\xFF\xD8")
    out += b"\xFF\xE0" + struct.pack(">H", 16) + \
        b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"

    def dqt(tid, table):
        zz = bytes(table[ZIGZAG[i]] for i in range(64))
        return b"\xFF\xDB" + struct.pack(">H", 67) + bytes([tid]) + zz
    out += dqt(0, STD_LUMA_QT)
    if nc == 3:
        out += dqt(1, STD_CHROMA_QT)
    comp = b""
    for ci in range(nc):
        h, v = samp[ci]
        comp += bytes([ci + 1, (h << 4) | v, min(ci, 1)])
    out += b"\xFF\xC2" + struct.pack(">HBHHB", 8 + 3 * nc, 8,
                                     height, width, nc) + comp

    def dht(cls, tid, table):
        bits, vals = table
        body = bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
        return b"\xFF\xC4" + struct.pack(">H", 2 + len(body)) + body
    out += dht(0, 0, DC_LUMA_HUFF)
    if nc == 3:
        out += dht(0, 1, DC_CHROMA_HUFF)
    out += dht(1, 0, GENERIC_AC_HUFF)
    if restart_interval:
        out += b"\xFF\xDD" + struct.pack(">HH", 4, restart_interval)

    dc_maps = [_huff_encode_map(*DC_LUMA_HUFF)]
    if nc == 3:
        dc_maps.append(_huff_encode_map(*DC_CHROMA_HUFF))
    ac_map = _huff_encode_map(*GENERIC_AC_HUFF)

    for comps_idx, ss, se, ah, al in scans:
        ns = len(comps_idx)
        sel = b""
        for ci in comps_idx:
            t = min(ci, 1)
            sel += bytes([ci + 1, (t << 4) | 0])
        out += b"\xFF\xDA" + struct.pack(">HB", 6 + 2 * ns, ns) + sel \
            + bytes([ss, se, (ah << 4) | al])
        bw = _BitWriter()
        preds = [0] * nc
        first_st = _AcFirstState()
        ref_st = _AcRefineState()
        rst_idx = 0

        def do_restart():
            nonlocal preds, first_st, ref_st, rst_idx
            if ss > 0:
                if ah == 0:
                    _emit_eobrun_first(bw, ac_map, first_st)
                else:
                    _emit_eobrun_refine(bw, ac_map, ref_st)
            bw.flush()
            bw.out += bytes([0xFF, 0xD0 + (rst_idx & 7)])
            rst_idx += 1
            preds = [0] * nc
            first_st = _AcFirstState()
            ref_st = _AcRefineState()

        def unit(ci, zz):
            if ss == 0:
                if ah == 0:
                    _enc_dc_first(bw, zz, preds, ci, al,
                                  dc_maps[min(ci, 1)])
                else:
                    _enc_dc_refine(bw, zz, al)
            elif ah == 0:
                _enc_ac_first(bw, zz, ss, se, al, ac_map, first_st)
            else:
                _enc_ac_refine(bw, zz, ss, se, al, ac_map, ref_st)

        if ns == 1:
            ci = comps_idx[0]
            bwid, bhei = _comp_block_dims(frame, frame["comps"][ci])
            for bi in range(bwid * bhei):
                if restart_interval and bi and \
                        bi % restart_interval == 0:
                    do_restart()
                by, bx = divmod(bi, bwid)
                unit(ci, coefs[ci][by, bx])
        else:
            if ss != 0:
                raise ValueError("AC scans must be single-component")
            mcu_count = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart_interval and mcu_count and \
                            mcu_count % restart_interval == 0:
                        do_restart()
                    for ci in comps_idx:
                        h, v = samp[ci]
                        for by in range(v):
                            for bx in range(h):
                                unit(ci, coefs[ci][my * v + by,
                                                   mx * h + bx])
                    mcu_count += 1
        if ss > 0:
            if ah == 0:
                _emit_eobrun_first(bw, ac_map, first_st)
            else:
                _emit_eobrun_refine(bw, ac_map, ref_st)
        bw.flush()
        out += bw.out
    out += b"\xFF\xD9"
    return bytes(out)
