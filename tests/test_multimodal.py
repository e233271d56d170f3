"""Multimodal plumbing tests: Arrow-batched decode stubs over mapInPandas
(real schema/batch flow; deterministic fake codec per operators/multimodal)."""

import struct

import pytest
from pyspark.sql import Row

from nyctaxidatapipeline_spark.operators.multimodal import (
    audio_features,
    frame_sample,
    image_features,
    with_media_metadata,
)


def _fake_media(width, height, payload: bytes) -> bytes:
    return struct.pack("<II", width, height) + payload


def _assets(spark):
    return spark.createDataFrame([
        Row(asset_id=1, media=_fake_media(4, 2, bytes([10, 20, 30, 40]))),
        Row(asset_id=2, media=_fake_media(8, 8, bytes(range(100)))),
        Row(asset_id=3, media=b"xx"),     # too short -> NULL features
        Row(asset_id=4, media=None),      # NULL media
    ])


def test_image_features_fake_codec(spark):
    got = {r.asset_id: r for r in
           image_features(_assets(spark)).collect()}
    assert (got[1].width, got[1].height) == (4, 2)
    assert got[1].n_bytes == 12
    assert got[1].mean_intensity == 25.0
    assert got[2].mean_intensity == sum(range(100)) / 100
    assert got[3].width is None and got[4].width is None


def _has_pil() -> bool:
    try:
        import PIL  # noqa: F401
        return True
    except ImportError:
        return False


def test_image_features_real_codec_raises_without_pil(spark):
    if _has_pil():
        pytest.skip("pillow installed — the guard takes the PIL path")
    with pytest.raises(Exception, match="NotImplementedError|PIL"):
        image_features(_assets(spark), codec="real").collect()


@pytest.mark.wheels
@pytest.mark.skipif(not _has_pil(), reason="pillow not installed")
def test_pil_real_codec_parity(spark):
    """With pillow present, codec='real' must agree with the pure-stdlib
    kernels: image_features exactly (PNG is lossless — identical pixel
    bytes), image_resize within 1 intensity step (PIL BOX resampling
    rounds block means half-even where the pure kernel floors).
    Inherently wheel-gated — it compares against PIL AT RUNTIME; the
    wheel-free decode-direction pins live in tests/test_codec_kat.py
    (spec-assembled PNG) instead."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.functions.png import (
        decode_png,
        encode_png,
    )
    from nyctaxidatapipeline_spark.operators.multimodal import (
        image_resize,
    )

    px = bytes((i * 7) % 256 for i in range(8 * 4))
    blob = encode_png(8, 4, px, color_type=0)
    df = spark.createDataFrame([Row(asset_id=1, media=blob)])
    pure = image_features(df, codec="png").collect()[0]
    real = image_features(df, codec="real").collect()[0]
    assert (real.width, real.height, real.n_bytes) == \
        (pure.width, pure.height, pure.n_bytes)
    assert real.mean_intensity == pure.mean_intensity

    px = bytes((i * 31) % 256 for i in range(8 * 4))
    blob = encode_png(8, 4, px, color_type=0)
    df = spark.createDataFrame([Row(asset_id=1, media=blob)])
    pure = image_resize(df, factor=2, codec="png").collect()[0]
    real = image_resize(df, factor=2, codec="real").collect()[0]
    assert (real.width, real.height) == (pure.width, pure.height)
    _, _, _, ppx = decode_png(bytes(pure.media))
    _, _, _, rpx = decode_png(bytes(real.media))
    assert all(abs(a - b) <= 1 for a, b in zip(ppx, rpx))


def _has_av():
    try:
        import av  # noqa: F401
        return True
    except ImportError:
        return False


def _has_soundfile():
    try:
        import soundfile  # noqa: F401
        return True
    except ImportError:
        return False


def test_frame_sample_real_codec_raises_without_av(spark):
    if _has_av():
        pytest.skip("PyAV installed — the guard takes the av path")
    from pyspark.sql import Row

    df = spark.createDataFrame([Row(asset_id=1, media=b"anything")])
    with pytest.raises(Exception, match="NotImplementedError|PyAV"):
        frame_sample(df, every_n=1, codec="real").collect()


def test_audio_features_real_codec_raises_without_soundfile(spark):
    if _has_soundfile():
        pytest.skip("soundfile installed — the guard takes that path")
    from pyspark.sql import Row

    df = spark.createDataFrame([Row(asset_id=1, media=b"anything")])
    with pytest.raises(Exception, match="NotImplementedError|soundfile"):
        audio_features(df, codec="real").collect()


@pytest.mark.wheels
@pytest.mark.skipif(not _has_av(), reason="PyAV not installed")
def test_frame_sample_real_parity_on_avi(spark):
    """With PyAV present, codec='real' must sample the same FRAME COUNT
    from an uncompressed AVI as the pure-stdlib container walker (libav
    demuxes one packet per '00db' frame)."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.functions.avi import encode_avi

    frames = [bytes([i] * 24) for i in range(7)]  # 4x2 24-bit frames
    blob = encode_avi(4, 2, frames)
    df = spark.createDataFrame([Row(asset_id=1, media=blob)])
    pure = frame_sample(df, every_n=2, codec="avi").collect()
    real = frame_sample(df, every_n=2, codec="real").collect()
    assert len(real) == len(pure) == 4
    assert [r.frame_index for r in real] == [r.frame_index for r in pure]


@pytest.mark.wheels
@pytest.mark.skipif(not _has_soundfile(), reason="soundfile not installed")
def test_audio_features_real_matches_pure_wav16(spark):
    """With soundfile present, codec='real' must agree with the pure
    stdlib WAV path exactly on 16-bit PCM (both compute integer
    amplitudes over the same samples)."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.functions.wav import encode_wav

    import struct as _s
    pcm = b"".join(_s.pack("<h", v) for v in
                   (0, 1000, -2000, 32767, -32768, 5))
    blob = encode_wav(8000, 2, pcm)
    df = spark.createDataFrame([Row(asset_id=1, media=blob)])
    pure = audio_features(df, codec="wav").collect()[0]
    real = audio_features(df, codec="real").collect()[0]
    assert (real.sample_rate, real.channels, real.n_frames) == \
        (pure.sample_rate, pure.channels, pure.n_frames)
    assert real.mean_abs == pure.mean_abs and real.peak == pure.peak


def test_frame_sample_offsets(spark):
    df = spark.createDataFrame([
        Row(asset_id=1, media=_fake_media(1, 1, bytes(256 * 25)))])
    rows = sorted(frame_sample(df, every_n=10, frame_size=256).collect(),
                  key=lambda r: r.frame_index)
    # 25 frames, every 10th -> frames 0, 10, 20
    assert [(r.frame_index, r.frame_offset) for r in rows] == [
        (0, 8), (1, 8 + 10 * 256), (2, 8 + 20 * 256)]


def test_media_metadata_sniff(spark):
    df = spark.createDataFrame([
        Row(asset_id=1, media=bytes([0xFF, 0xD8, 0xFF, 0xE0, 1, 2])),
        Row(asset_id=2, media=b"\x89PNG\r\n"),
        Row(asset_id=3, media=b"garbage")])
    got = {r.asset_id: (r.media_format, r.media_bytes)
           for r in with_media_metadata(df).collect()}
    assert got[1] == ("jpeg", 6)
    assert got[2] == ("png", 6)
    assert got[3][0] == "unknown"


def test_png_roundtrip_all_filters():
    from nyctaxidatapipeline_spark.functions.png import (
        decode_png,
        encode_png,
    )

    # deterministic 5x4 RGB gradient — exercises byte values across the
    # range so Sub/Average/Paeth deltas wrap mod 256
    w, h = 5, 4
    px = bytes((13 * x + 57 * y + 31 * c) % 256
               for y in range(h) for x in range(w) for c in range(3))
    for ftype in range(5):
        data = encode_png(w, h, px, color_type=2, filter_type=ftype)
        gw, gh, ch, got = decode_png(data)
        assert (gw, gh, ch) == (w, h, 3), f"filter {ftype}"
        assert got == px, f"filter {ftype} corrupted pixels"
    # grayscale and RGBA color types
    g = bytes((7 * i) % 256 for i in range(w * h))
    assert decode_png(encode_png(w, h, g, color_type=0))[3] == g
    a = bytes((11 * i) % 256 for i in range(w * h * 4))
    assert decode_png(encode_png(w, h, a, color_type=6,
                                 filter_type=4))[3] == a


def test_png_adam7_interlace_roundtrip():
    """Adam7 decode must reproduce the exact pixels of the progressive
    pass lattice — including tiny images whose later passes are EMPTY
    (a zero-width pass contributes no scanlines at all, the spec's
    edge case) and every scanline filter within a pass."""
    import numpy as np

    from nyctaxidatapipeline_spark.functions.png import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(41)
    for (w, h, ct) in [(16, 16, 0), (17, 13, 2), (1, 1, 0), (2, 2, 6),
                       (3, 3, 2), (7, 5, 0), (8, 8, 6), (33, 21, 2),
                       (5, 1, 0), (1, 9, 2)]:
        ch = {0: 1, 2: 3, 6: 4}[ct]
        px = rng.integers(0, 256, size=w * h * ch,
                          dtype=np.uint8).tobytes()
        for ftype in range(5):
            data = encode_png(w, h, px, color_type=ct,
                              filter_type=ftype, interlace=True)
            gw, gh, gch, got = decode_png(data)
            assert (gw, gh, gch) == (w, h, ch), (w, h, ct, ftype)
            assert got == px, f"adam7 {w}x{h} ct{ct} f{ftype}"


def test_png_rejects_unsupported():
    from nyctaxidatapipeline_spark.functions.png import decode_png

    with pytest.raises(ValueError, match="signature"):
        decode_png(b"not a png at all")
    with pytest.raises(ValueError, match="truncated|IEND|IHDR"):
        decode_png(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)
    # bad interlace method byte (2) must be named, not mis-decoded
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 2)
    body = struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + \
        struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="interlace"):
        decode_png(b"\x89PNG\r\n\x1a\n" + body)


def test_image_features_png_codec(spark):
    """The REAL decode path: baseline PNGs (different scanline filters)
    decoded inside mapInPandas — no PIL, no fake header."""
    from nyctaxidatapipeline_spark.functions.png import encode_png

    px1 = bytes(range(0, 24))              # 4x2 RGB
    px2 = bytes([200] * 9)                 # 3x1 RGB constant
    df = spark.createDataFrame([
        Row(asset_id=1, media=encode_png(4, 2, px1, filter_type=4)),
        Row(asset_id=2, media=encode_png(3, 1, px2, filter_type=1)),
        Row(asset_id=3, media=b"\x89PNG\r\n\x1a\njunk"),  # malformed
        Row(asset_id=4, media=None),
    ])
    got = {r.asset_id: r for r in
           image_features(df, codec="png").collect()}
    assert (got[1].width, got[1].height) == (4, 2)
    assert got[1].mean_intensity == sum(px1) / len(px1)
    assert (got[2].width, got[2].height) == (3, 1)
    assert got[2].mean_intensity == 200.0
    assert got[3].width is None and got[4].width is None


# --- WAV audio (real stdlib codec) ---------------------------------------

def test_wav_roundtrip():
    from nyctaxidatapipeline_spark.functions.wav import (
        encode_wav,
        parse_wav,
    )
    pcm = struct.pack("<6h", 0, 100, -100, 32767, -32768, 5)
    meta = parse_wav(encode_wav(8000, 1, pcm))
    assert (meta["sample_rate"], meta["channels"],
            meta["sampwidth"], meta["n_frames"]) == (8000, 1, 2, 6)
    assert meta["pcm"] == pcm
    # stereo: 2 frames of 2 interleaved channels
    meta2 = parse_wav(encode_wav(44100, 2, struct.pack("<4h", 1, 2, 3, 4)))
    assert (meta2["channels"], meta2["n_frames"]) == (2, 2)


def test_wav_rejects_garbage():
    from nyctaxidatapipeline_spark.functions.wav import (
        encode_wav,
        parse_wav,
    )
    with pytest.raises(ValueError):
        parse_wav(b"not a wav")
    with pytest.raises(ValueError):
        parse_wav(b"")
    with pytest.raises(ValueError):     # odd payload for the frame size
        encode_wav(8000, 2, b"\x00\x01\x02")


def test_audio_features_wav(spark):
    from nyctaxidatapipeline_spark.functions.wav import encode_wav
    from nyctaxidatapipeline_spark.operators.multimodal import (
        audio_features,
    )
    pcm = struct.pack("<4h", 100, -200, 0, 32767)
    df = spark.createDataFrame([
        Row(asset_id=1, media=encode_wav(8000, 1, pcm)),
        Row(asset_id=2, media=b"junk"),
        Row(asset_id=3, media=None),
    ])
    got = {r.asset_id: r for r in audio_features(df).collect()}
    r1 = got[1]
    assert (r1.sample_rate, r1.channels, r1.n_frames) == (8000, 1, 4)
    assert r1.duration_sec == 4 / 8000
    assert r1.mean_abs == (100 + 200 + 0 + 32767) / 4
    assert r1.peak == 32767
    assert got[2].sample_rate is None and got[3].sample_rate is None


def test_audio_features_8bit_and_24bit(spark):
    """Sample widths beyond 16-bit: 8-bit is unsigned-offset-128 per the
    WAV spec; 24-bit sign-extends. Encode by hand through the stdlib
    writer's setsampwidth."""
    import io
    import wave

    from nyctaxidatapipeline_spark.operators.multimodal import (
        audio_features,
    )

    def make(width, payload):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(width)
            w.setframerate(1000)
            w.writeframes(payload)
        return buf.getvalue()

    b8 = make(1, bytes([128, 138, 118]))          # amps 0, 10, 10
    b24 = make(3, b"\x01\x00\x00" + b"\xff\xff\xff")  # +1, -1
    df = spark.createDataFrame([
        Row(asset_id=1, media=b8), Row(asset_id=2, media=b24)])
    got = {r.asset_id: r for r in audio_features(df).collect()}
    assert got[1].mean_abs == 20 / 3 and got[1].peak == 10
    assert got[2].mean_abs == 1.0 and got[2].peak == 1


def test_jpeg_constant_blocks_exact():
    """DC-only blocks survive the lossy pipeline EXACTLY as the pinned
    half-up arithmetic predicts — the contract the oracle twin uses."""
    import math

    import numpy as np

    from nyctaxidatapipeline_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    px = np.zeros((16, 32), dtype=np.uint8)
    consts = [(5 * 31 + b * 17) % 256 for b in range(8)]
    for b, c in enumerate(consts):
        by, bx = divmod(b, 4)
        px[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = c
    w, h, ch, out = decode_jpeg(encode_jpeg(32, 16, px.tobytes(), 1))
    assert (w, h, ch) == (32, 16, 1)
    arr = np.frombuffer(out, dtype=np.uint8).reshape(16, 32)
    for b, c in enumerate(consts):
        by, bx = divmod(b, 4)
        want = max(0, min(255, 2 * math.floor((c - 128) / 2 + 0.5) + 128))
        assert (arr[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8]
                == want).all()


def test_jpeg_roundtrip_tolerance():
    """General images through the full encoder/decoder (independent
    transform implementations): reconstruction error must stay within
    classic Q50-baseline bounds — a defect in either side explodes it."""
    import numpy as np

    from nyctaxidatapipeline_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(11)
    # smooth gradient, grayscale: near-lossless
    yy, xx = np.mgrid[0:32, 0:48]
    grad = ((yy * 3 + xx * 2) % 256).astype(np.uint8)
    w, h, ch, o = decode_jpeg(encode_jpeg(48, 32, grad.tobytes(), 1))
    a = np.frombuffer(o, dtype=np.uint8).reshape(32, 48).astype(int)
    assert np.abs(a - grad.astype(int)).max() <= 8
    # noise, grayscale: bounded mean error (Q50 quantization loss)
    noise = rng.integers(0, 256, size=(24, 40), dtype=np.uint8)
    w, h, ch, o = decode_jpeg(encode_jpeg(40, 24, noise.tobytes(), 1))
    a = np.frombuffer(o, dtype=np.uint8).reshape(24, 40).astype(int)
    assert np.abs(a - noise.astype(int)).mean() < 32
    # color, both sampling modes, odd dimensions (MCU padding + crop)
    rgb = np.stack([grad, 255 - grad, grad // 2 + 60],
                   axis=-1).astype(np.uint8)[:17, :13]
    for sub in ("444", "420"):
        w, h, ch, o = decode_jpeg(
            encode_jpeg(13, 17, rgb.tobytes(), 3, subsampling=sub))
        assert (w, h, ch) == (13, 17, 3)
        a = np.frombuffer(o, dtype=np.uint8).reshape(17, 13, 3) \
            .astype(int)
        assert np.abs(a - rgb.astype(int)).mean() < (6 if sub == "444"
                                                    else 14)


def test_jpeg_rejects_unsupported():
    import numpy as np
    import pytest as _pytest

    from nyctaxidatapipeline_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    with _pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")
    with _pytest.raises(ValueError):
        decode_jpeg(b"")
    # a baseline stream mislabeled as progressive (SOF2) carries a
    # baseline SOS header (Ss=0, Se=63) — invalid for a DC scan, so it
    # must still raise, never mis-decode
    good = bytearray(encode_jpeg(8, 8, bytes(64), 1))
    sof0 = good.find(b"\xFF\xC0")
    assert sof0 > 0
    good[sof0 + 1] = 0xC2
    with _pytest.raises(ValueError):
        decode_jpeg(bytes(good))
    # lossless (SOF3) stays rejected
    good[sof0 + 1] = 0xC3
    with _pytest.raises(ValueError):
        decode_jpeg(bytes(good))
    # truncated entropy stream
    full = encode_jpeg(8, 8, np.arange(64, dtype=np.uint8).tobytes(), 1)
    with _pytest.raises(ValueError):
        decode_jpeg(full[:len(full) - 10])


def test_image_features_jpeg_codec(spark):
    """End-to-end through mapInPandas: real JPEG decode features, with
    undecodable media yielding NULLs per the multimodal convention."""
    import numpy as np

    from nyctaxidatapipeline_spark.functions.jpeg import encode_jpeg

    px = np.full((8, 16), 200, dtype=np.uint8)
    rows = [Row(asset_id=1, media=bytearray(
                encode_jpeg(16, 8, px.tobytes(), 1))),
            Row(asset_id=2, media=bytearray(b"garbage")),
            Row(asset_id=3, media=None)]
    df = spark.createDataFrame(rows, "asset_id long, media binary")
    got = {r["asset_id"]: r
           for r in image_features(df, codec="jpeg").collect()}
    assert (got[1]["width"], got[1]["height"]) == (16, 8)
    assert got[1]["mean_intensity"] == 200.0
    assert got[2]["width"] is None and got[3]["width"] is None


def test_jpeg_fuzz_only_valueerror():
    """Malformed/truncated/mutated streams must raise ValueError and
    nothing else — the multimodal layer only catches ValueError, so
    any other exception class would crash the executor kernel."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from nyctaxidatapipeline_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    base = encode_jpeg(16, 8, bytes(range(128)), 1)

    @settings(max_examples=200, deadline=None)
    @given(st.data())
    def run(data):
        mode = data.draw(st.integers(0, 2))
        if mode == 0:        # random bytes with a JPEG magic prefix
            blob = b"\xFF\xD8" + data.draw(st.binary(max_size=200))
        elif mode == 1:      # truncation of a valid stream
            blob = base[:data.draw(st.integers(0, len(base) - 1))]
        else:                # single-byte mutation of a valid stream
            i = data.draw(st.integers(0, len(base) - 1))
            b = data.draw(st.integers(0, 255))
            blob = base[:i] + bytes([b]) + base[i + 1:]
        try:
            w, h, ch, px = decode_jpeg(blob)
            assert len(px) == w * h * ch   # a survivor must be sane
        except ValueError:
            pass                            # the ONLY allowed failure

    run()


# ---------------------------------------------------------------- dhash

def test_dhash64_known_pattern():
    import numpy as np

    from nyctaxidatapipeline_spark.operators.multimodal import dhash64

    # native 8x9 grid: cells == pixels; strictly decreasing rows set
    # every left>right bit -> all-ones hash == signed -1
    g = np.tile(np.arange(9, 0, -1, dtype=np.float64), (8, 1))
    assert dhash64(g) == -1
    # strictly increasing rows -> no bits set
    assert dhash64(g[:, ::-1].copy()) == 0


def test_dhash_identity_and_near_duplicate_distance():
    import numpy as np

    from nyctaxidatapipeline_spark.operators.multimodal import dhash64

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(32, 48)).astype(np.float64)
    h0 = dhash64(img)
    assert dhash64(img.copy()) == h0
    tweaked = img.copy()
    tweaked[3, 5] += 1.0  # one-pixel nudge: hamming distance stays tiny
    ham = bin((h0 ^ dhash64(tweaked)) & ((1 << 64) - 1)).count("1")
    assert ham <= 2


def test_image_dhash_and_dedup_groups(spark):
    from nyctaxidatapipeline_spark.functions.png import encode_png
    from nyctaxidatapipeline_spark.operators.multimodal import (
        image_dedup_groups,
        image_dhash,
    )

    px_a = bytes((i * 3) % 256 for i in range(96))
    px_b = bytes((i * 5 + 1) % 256 for i in range(96))
    rows = [(0, encode_png(8, 4, px_a, filter_type=0)),
            (1, encode_png(8, 4, px_a, filter_type=2)),  # same image,
            (2, encode_png(8, 4, px_b)),                 # different enc
            (3, b"not an image"), (4, None)]
    df = spark.createDataFrame(rows, "asset_id long, media binary")
    keys = image_dhash(df, codec="png")
    got = {r.asset_id: (r.dhash, r.px_md5) for r in keys.collect()}
    assert got[0] == got[1]          # identical pixels, different PNGs
    assert got[0] != got[2]
    assert got[3] == (None, None) and got[4] == (None, None)
    groups = {r.asset_id: (r.rep_id, r.n_dups)
              for r in image_dedup_groups(keys).collect()}
    assert groups == {0: (0, 2), 1: (0, 2), 2: (2, 1)}  # nulls dropped


# --- image_resize (box-average downscale) -------------------------------


def test_image_resize_floor_mean_and_roundtrip(spark):
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.functions.png import (
        decode_png,
        encode_png,
    )
    from nyctaxidatapipeline_spark.operators.multimodal import image_resize

    # 2x2 RGB image -> 1x1: each channel = floor of its 4 samples' mean
    px = bytes([10, 20, 30,  11, 22, 33,
                13, 25, 37,  14, 26, 38])
    df = spark.createDataFrame(
        [Row(asset_id=1, media=encode_png(2, 2, px))])
    out = image_resize(df, factor=2).collect()[0]
    assert (out.width, out.height) == (1, 1)
    w, h, ch, small = decode_png(bytes(out.media))
    assert (w, h, ch) == (1, 1, 3)
    assert list(small) == [(10 + 11 + 13 + 14) // 4,
                           (20 + 22 + 25 + 26) // 4,
                           (30 + 33 + 37 + 38) // 4]


def test_image_resize_crops_trailing_and_handles_gray(spark):
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.functions.png import (
        decode_png,
        encode_png,
    )
    from nyctaxidatapipeline_spark.operators.multimodal import image_resize

    # 5x3 grayscale, factor 2 -> 2x1 (trailing col/row cropped)
    px = bytes(range(15))
    df = spark.createDataFrame(
        [Row(asset_id=1, media=encode_png(5, 3, px, color_type=0))])
    out = image_resize(df, factor=2).collect()[0]
    assert (out.width, out.height) == (2, 1)
    _, _, ch, small = decode_png(bytes(out.media))
    assert ch == 1
    assert list(small) == [(0 + 1 + 5 + 6) // 4, (2 + 3 + 7 + 8) // 4]


def test_image_resize_null_and_garbage_yield_null_rows(spark):
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.multimodal import image_resize

    df = spark.createDataFrame(
        [Row(asset_id=1, media=None),
         Row(asset_id=2, media=b"not a png")],
        "asset_id long, media binary")
    got = {r.asset_id: r.width for r in image_resize(df).collect()}
    assert got == {1: None, 2: None}


def test_image_resize_validates_params(spark):
    import pytest
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.multimodal import image_resize

    df = spark.createDataFrame([Row(asset_id=1, media=b"")],
                               "asset_id long, media binary")
    with pytest.raises(ValueError):
        image_resize(df, factor=0)
    with pytest.raises(ValueError):
        image_resize(df, codec="webp")


def test_doc_ids_wide_same_rows(spark, tmp_path):
    """The media fan-out helper must be a pure re-partitioning: same
    doc_id multiset, parallelism-width output on a narrow scan."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    src = spark.range(0, 97).select(F.col("id").alias("doc_id"))
    path = str(tmp_path / "documents.parquet")
    src.coalesce(1).write.parquet(path)
    # load_table reads <sf_dir>/documents.parquet (a directory here —
    # the glob-or-dir scan contract).
    wide = entry._doc_ids_wide(spark, str(tmp_path))
    assert sorted(r["doc_id"] for r in wide.collect()) == list(range(97))
    target = spark.sparkContext.defaultParallelism
    assert wide.rdd.getNumPartitions() >= min(target, 2)
