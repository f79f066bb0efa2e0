"""PNG/WAV codecs vs independent oracles (hand-applied PNG filters,
stdlib wave module), plus the real-codec Spark paths."""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np
import pytest

from pg2kinesis_spark.functions.codecs import (
    PNG_SIG,
    decode_png,
    decode_wav,
    encode_png,
    encode_wav,
    is_png,
    is_wav,
    resize_nearest,
)


# --- PNG oracle helpers: build filtered scanlines INDEPENDENTLY of the
# decoder, straight from the spec's forward-filter definitions ------------

def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)


def _forward_filter(img: np.ndarray, ftypes: list[int]) -> bytes:
    """Apply per-row filters (spec §9 forward direction) to raw pixels."""
    h, w, c = img.shape
    flat = img.reshape(h, w * c).astype(int)
    out = bytearray()
    prev = np.zeros(w * c, dtype=int)
    for y in range(h):
        ft = ftypes[y % len(ftypes)]
        out.append(ft)
        row = flat[y]
        for x in range(w * c):
            left = row[x - c] if x >= c else 0
            up = prev[x]
            ul = prev[x - c] if x >= c else 0
            if ft == 0:
                v = row[x]
            elif ft == 1:
                v = row[x] - left
            elif ft == 2:
                v = row[x] - up
            elif ft == 3:
                v = row[x] - ((left + up) >> 1)
            else:
                v = row[x] - _paeth(left, up, ul)
            out.append(v & 0xFF)
        prev = row
    return bytes(out)


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _make_png(img: np.ndarray, ftypes: list[int], color: int) -> bytes:
    h, w, c = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    raw = _forward_filter(img, ftypes)
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


def _rand_img(h, w, c, seed):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, c), dtype=np.uint8).reshape(h, w, c)


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("color,c", [(0, 1), (2, 3), (4, 2), (6, 4)])
def test_png_each_filter_and_colortype(ftype, color, c):
    img = _rand_img(7, 5, c, seed=ftype * 10 + color)
    data = _make_png(img, [ftype], color)
    np.testing.assert_array_equal(decode_png(data), img)


def test_png_mixed_filters_and_split_idat():
    img = _rand_img(16, 11, 3, seed=7)
    raw = _forward_filter(img, [0, 1, 2, 3, 4])
    comp = zlib.compress(raw)
    ihdr = struct.pack(">IIBBBBB", 11, 16, 8, 2, 0, 0, 0)
    # split the compressed stream across three IDAT chunks
    data = (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", comp[:10])
        + _chunk(b"IDAT", comp[10:25])
        + _chunk(b"IDAT", comp[25:])
        + _chunk(b"IEND", b"")
    )
    np.testing.assert_array_equal(decode_png(data), img)


def test_png_palette_expands_to_rgb():
    plte = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)
    idx = np.array([[0, 1], [2, 0]], dtype=np.uint8).reshape(2, 2, 1)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    raw = _forward_filter(idx, [0])
    data = (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", plte.tobytes())
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    np.testing.assert_array_equal(decode_png(data), plte[idx[:, :, 0]])


def test_png_encoder_roundtrip_and_rejections():
    img = _rand_img(9, 13, 4, seed=3)
    assert is_png(encode_png(img))
    np.testing.assert_array_equal(decode_png(encode_png(img)), img)
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")
    # invalid bit depth rejected (every legal depth decodes since round 5)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 3, 0, 0, 0, 0)
    bad = PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", zlib.compress(b"\x00" * 6)) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="bit depth"):
        decode_png(bad)
    # sub-8 depths are only valid for gray/palette color types
    ihdr = struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0)
    bad = PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", zlib.compress(b"\x00" * 6)) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="invalid for color type"):
        decode_png(bad)


def test_resize_nearest_exact():
    img = np.arange(16, dtype=np.uint8).reshape(4, 4, 1)
    out = resize_nearest(img, 2, 2)
    np.testing.assert_array_equal(out[:, :, 0], [[0, 2], [8, 10]])
    up = resize_nearest(img, 8, 8)
    assert up.shape == (8, 8, 1) and up[0, 0, 0] == 0 and up[7, 7, 0] == 15


# --- WAV: stdlib wave as the independent oracle --------------------------

def _wav_via_stdlib(samples: np.ndarray, rate: int, width: int) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(samples.shape[1])
        w.setsampwidth(width)
        w.setframerate(rate)
        if width == 1:
            w.writeframes((samples.astype(np.int16) + 128).astype(np.uint8).tobytes())
        elif width == 2:
            w.writeframes(samples.astype("<i2").tobytes())
        else:
            w.writeframes(samples.astype("<i4").tobytes())
    return buf.getvalue()


@pytest.mark.parametrize("width,nch", [(1, 1), (2, 1), (2, 2), (4, 2)])
def test_wav_matches_stdlib_writer(width, nch):
    rng = np.random.RandomState(width * 10 + nch)
    lo, hi = (-120, 120) if width == 1 else (-30000, 30000)
    samples = rng.randint(lo, hi, size=(50, nch))
    data = _wav_via_stdlib(samples, 16000, width)
    got, rate = decode_wav(data)
    assert rate == 16000 and is_wav(data)
    np.testing.assert_array_equal(got, samples)


def test_wav_24bit_and_rejections():
    # 24-bit little-endian by hand (stdlib wave also writes sampwidth=3)
    samples = np.array([[-(1 << 22)], [1 << 22], [-1], [0]], dtype=np.int64)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(3)
        w.setframerate(8000)
        b = bytearray()
        for s in samples[:, 0]:
            b += int(s & 0xFFFFFF).to_bytes(3, "little")
        w.writeframes(bytes(b))
    got, rate = decode_wav(buf.getvalue())
    np.testing.assert_array_equal(got[:, 0], samples[:, 0])
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxJUNK")


def test_wav_extensible_subformat():
    """WAVE_FORMAT_EXTENSIBLE (fmt 0xFFFE) — what most >16-bit and
    multichannel WAVs actually carry: the base format comes from the
    SubFormat GUID's leading u16 (1 PCM, 3 float) inside the fixed
    KSDATAFORMAT namespace; a GUID outside that namespace refuses."""
    from pg2kinesis_spark.functions.codecs import encode_wav_extensible

    rng = np.random.RandomState(4)
    s16 = rng.randint(-30000, 30000, (500, 6)).astype(np.int16)  # 5.1
    got, rate = decode_wav(encode_wav_extensible(s16, 48000))
    assert rate == 48000 and got.shape == (500, 6)
    np.testing.assert_array_equal(got, s16)
    s24 = rng.randint(-(1 << 22), 1 << 22, (300, 2))
    np.testing.assert_array_equal(
        decode_wav(encode_wav_extensible(s24, 96000, bits=24))[0], s24
    )
    f32 = rng.randn(200, 2).astype(np.float32)
    np.testing.assert_allclose(
        decode_wav(encode_wav_extensible(f32, 44100, float32=True))[0], f32
    )
    bad = bytearray(encode_wav_extensible(s16, 48000))
    i = bad.find(bytes.fromhex("000000001000800000aa00389b71"))
    bad[i + 4] ^= 0xFF  # namespace byte stomped
    with pytest.raises(NotImplementedError, match="KSDATAFORMAT"):
        decode_wav(bytes(bad))
    trunc = encode_wav_extensible(s16, 48000)
    cut = bytearray(trunc)
    # fmt chunk shortened below the 40 bytes SubFormat needs
    j = cut.find(b"fmt ") + 4
    cut[j : j + 4] = struct.pack("<I", 18)
    with pytest.raises(ValueError, match="SubFormat"):
        decode_wav(bytes(cut[: j + 4 + 18]) + trunc[trunc.find(b"data"):])


def _g711_wav(codes: bytes, audio_fmt: int, rate: int = 8000) -> bytes:
    """Hand-build a G.711 WAV (audio_fmt 6 = A-law, 7 = mu-law)."""
    fmt = struct.pack("<HHIIHH", audio_fmt, 1, rate, rate, 1, 8)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(codes)) + codes
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_wav_g711_matches_audioop_oracle():
    """A-law/mu-law expansion agrees with the stdlib audioop G.711
    implementation for EVERY code byte, plus the ITU pin values."""
    audioop = pytest.importorskip("audioop")
    codes = bytes(range(256))
    got_a, rate = decode_wav(_g711_wav(codes, 6))
    want_a = np.frombuffer(audioop.alaw2lin(codes, 2), dtype="<i2")
    np.testing.assert_array_equal(got_a[:, 0], want_a)
    got_u, _ = decode_wav(_g711_wav(codes, 7))
    want_u = np.frombuffer(audioop.ulaw2lin(codes, 2), dtype="<i2")
    np.testing.assert_array_equal(got_u[:, 0], want_u)
    assert rate == 8000
    # spec pins: mu-law 0xFF -> 0, 0x00 -> -32124; A-law max magnitude 32256
    assert got_u[0xFF, 0] == 0 and got_u[0x00, 0] == -32124
    assert int(np.abs(got_a[:, 0]).max()) == 32256


def test_wav_g711_through_audio_fingerprint(spark):
    """G.711 WAVs flow through the audio feature/fingerprint kernels:
    the same sine companded to mu-law fingerprints like its PCM-16
    sibling."""
    audioop = pytest.importorskip("audioop")

    from pg2kinesis_spark.functions.codecs import encode_wav
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        audio_fingerprint,
        extract_audio_features,
    )

    t = np.arange(8000) / 8000.0
    pcm = (np.sin(2 * np.pi * 440 * t) * 20000).astype(np.int16)
    ulaw = audioop.lin2ulaw(pcm.astype("<i2").tobytes(), 2)
    rows = [
        (1, bytearray(encode_wav(pcm[:, None], 8000)), ("audio/wav", 0, "a.wav")),
        (2, bytearray(_g711_wav(ulaw, 7)), ("audio/wav", 0, "b.wav")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in extract_audio_features(media).collect()}
    assert all(r.decode_error is None for r in feats.values())
    assert feats[1].n_samples == feats[2].n_samples == 8000
    assert feats[1].sample_rate == feats[2].sample_rate == 8000
    fps = {r.media_id: r for r in audio_fingerprint(media).collect()}
    assert fps[1].afp is not None and fps[2].afp is not None
    # companding preserves the energy envelope: identical 64-bit prints
    assert fps[1].afp == fps[2].afp


def test_wav_roundtrip_own_encoder():
    samples = np.array([[1, -1], [100, -100], [32000, -32000]], dtype=np.int16)
    got, rate = decode_wav(encode_wav(samples, 44100))
    assert rate == 44100
    np.testing.assert_array_equal(got, samples)


# --- Spark-side real paths -----------------------------------------------

@pytest.fixture()
def png_media(spark):
    rows = []
    for i, (h, w, c) in enumerate([(6, 4, 3), (8, 8, 1), (3, 5, 4)]):
        img = _rand_img(h, w, c, seed=i)
        data = encode_png(img)
        rows.append((i, bytearray(data), ("image/png", len(data), f"mem://{i}")))
    from pg2kinesis_spark.functions.multimodal import MEDIA_SCHEMA

    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features_real_png(spark, png_media):
    from pg2kinesis_spark.functions.multimodal import extract_features

    got = {r["media_id"]: (r["width"], r["height"]) for r in extract_features(png_media, fake=False).collect()}
    assert got == {0: (4, 6), 1: (8, 8), 2: (5, 3)}


def test_extract_image_features_real(spark, png_media):
    from pg2kinesis_spark.functions.multimodal import extract_image_features

    rows = {r["media_id"]: r for r in extract_image_features(png_media).collect()}
    assert rows[0]["n_channels"] == 3 and rows[1]["n_channels"] == 1
    # luma oracle for the gray image: plain mean
    img = _rand_img(8, 8, 1, seed=1)
    assert rows[1]["mean_luma"] == pytest.approx(float(img.mean()))


def test_extract_audio_features_real(spark):
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_features,
    )

    samples = np.array([[3, -3]] * 8000, dtype=np.int16)
    data = encode_wav(samples, 16000)
    media = spark.createDataFrame(
        [(7, bytearray(data), ("audio/wav", len(data), "mem://a"))], MEDIA_SCHEMA
    )
    r = extract_audio_features(media).collect()[0]
    assert (r["sample_rate"], r["n_channels"], r["n_samples"]) == (16000, 2, 8000)
    assert r["duration_ms"] == pytest.approx(500.0)
    assert r["rms"] == pytest.approx(3.0)


def test_unsupported_mime_raises_in_kernel(spark):
    from pg2kinesis_spark.functions.multimodal import MEDIA_SCHEMA, extract_features

    # errors="raise": a mime with no decoder (mp3) fails loudly in the kernel
    media = spark.createDataFrame(
        [(1, bytearray(b"ID3\x04 fake mp3"), ("audio/mpeg", 10, "mem://m"))],
        MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="PNG/JPEG"):
        extract_features(media, fake=False, errors="raise").collect()
    # the default quarantine path routes the same row instead of dying
    r = extract_features(media, fake=False).collect()[0]
    assert r["width"] is None and r["height"] is None
    assert "NotImplementedError" in r["decode_error"]
    # JPEG-looking garbage now reaches the REAL decoder and fails there
    media = spark.createDataFrame(
        [(1, bytearray(b"\xff\xd8\xff\xe0 fake jpeg"), ("image/jpeg", 10, "mem://j"))],
        MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="missing SOF"):
        extract_features(media, fake=False, errors="raise").collect()
    r = extract_features(media, fake=False).collect()[0]
    assert r["width"] is None and "missing SOF" in r["decode_error"]


def test_media_dhash_real_neardup(spark):
    """dHash finds a re-encoded + slightly brightened copy of the same
    image while separating a genuinely different image — the property a
    byte-parity signature can NOT provide (one byte of zlib framing
    flips it). Oracle: driver-side dHash on the same pixel math."""
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        media_dhash,
        media_near_dup_pairs,
    )

    rng = np.random.RandomState(11)
    base = rng.randint(0, 200, size=(32, 32, 3), dtype=np.uint8)
    bright = np.clip(base.astype(int) + 12, 0, 255).astype(np.uint8)  # near-dup
    other = rng.randint(0, 256, size=(32, 32, 3), dtype=np.uint8)     # unrelated
    rows = []
    for i, img in enumerate([base, bright, other]):
        data = encode_png(img)
        rows.append((i, bytearray(data), ("image/png", len(data), f"mem://{i}")))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    def py_dhash(img):
        from pg2kinesis_spark.functions.codecs import resize_nearest

        f = img.astype("float64")
        gray = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
        small = resize_nearest(gray[:, :, None], 9, 8)[:, :, 0]
        bits = (small[:, 1:] > small[:, :-1]).flatten()
        h = sum(1 << i for i, b in enumerate(bits) if b)
        return h - (1 << 64) if h >= 1 << 63 else h

    got = {r["media_id"]: r["dhash"] for r in media_dhash(media).collect()}
    assert got == {0: py_dhash(base), 1: py_dhash(bright), 2: py_dhash(other)}

    pairs = media_near_dup_pairs(media, max_hamming=8, signature="dhash").collect()
    got_pairs = {(r["media_id1"], r["media_id2"]) for r in pairs}
    assert (0, 1) in got_pairs            # brightened copy found
    assert not any(2 in p for p in got_pairs)  # unrelated image separated


def test_audio_fingerprint_real_neardup(spark):
    """The energy-envelope fingerprint matches an amplitude-scaled copy
    of the same signal (comparison bits are scale-invariant) and
    separates an independent noise signal."""
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        audio_fingerprint,
        media_near_dup_pairs,
    )

    rng = np.random.RandomState(5)
    envelope = np.repeat(rng.randint(50, 8000, size=130), 100).astype(np.float64)
    base = (rng.randn(13000) * envelope / 4 + envelope / 2).clip(-30000, 30000)
    scaled = (base * 0.5).astype(np.int16)          # half volume: near-dup
    other = (rng.randn(13000) * 5000).clip(-30000, 30000).astype(np.int16)
    rows = []
    for i, sig in enumerate([base.astype(np.int16), scaled, other]):
        data = encode_wav(sig[:, None], 16000)
        rows.append((i, bytearray(data), ("audio/wav", len(data), f"mem://{i}")))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    fps = {r["media_id"]: r["afp"] for r in audio_fingerprint(media).collect()}
    ham01 = bin((fps[0] ^ fps[1]) & (1 << 64) - 1).count("1")
    ham02 = bin((fps[0] ^ fps[2]) & (1 << 64) - 1).count("1")
    assert ham01 <= 6 < ham02

    pairs = media_near_dup_pairs(media, max_hamming=6, signature="audio").collect()
    got = {(r["media_id1"], r["media_id2"]) for r in pairs}
    assert (0, 1) in got and not any(2 in p for p in got)


def _adam7_passes():
    from pg2kinesis_spark.functions.codecs import _ADAM7_PASSES

    return _ADAM7_PASSES


def _make_png_adam7(img: np.ndarray, ftypes: list[int], color: int) -> bytes:
    """Hand-build an interlaced PNG: each Adam7 pass forward-filtered
    INDEPENDENTLY (fresh prev row), which is exactly what the spec
    requires and what a shared-state decoder would get wrong."""
    h, w, c = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 1)
    parts = []
    for x0, y0, dx, dy in _adam7_passes():
        sub = img[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        parts.append(_forward_filter(np.ascontiguousarray(sub), ftypes))
    raw = b"".join(parts)
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("h,w", [(1, 1), (2, 2), (3, 3), (5, 3), (7, 5), (8, 8), (9, 10), (16, 11)])
def test_png_adam7_roundtrip_all_sizes(h, w):
    """Interlaced encode -> decode is identity for sizes that exercise
    empty passes (anything < 8 wide/tall skips whole passes)."""
    for c in (1, 3, 4):
        img = _rand_img(h, w, c, seed=h * 100 + w * 10 + c)
        data = encode_png(img, interlace=True)
        np.testing.assert_array_equal(decode_png(data), img)
        # and agrees with the non-interlaced encoding of the same image
        np.testing.assert_array_equal(decode_png(encode_png(img)), img)


def test_png_adam7_per_pass_filters_are_independent():
    """Each pass restarts filtering (prev row = zeros): mixed Sub/Up/
    Average/Paeth rows built per-pass by the independent forward filter
    must decode exactly."""
    img = _rand_img(13, 9, 3, seed=42)
    data = _make_png_adam7(img, [1, 2, 3, 4, 0], color=2)
    np.testing.assert_array_equal(decode_png(data), img)


def test_png_adam7_truncated_raises():
    img = _rand_img(12, 12, 3, seed=9)
    full = encode_png(img, interlace=True)
    # rebuild with a truncated raw stream (drop the last pass bytes)
    raw = zlib.decompress(
        full[full.index(b"IDAT") + 4 : full.rindex(b"IEND") - 8]
    )
    ihdr = struct.pack(">IIBBBBB", 12, 12, 8, 2, 0, 0, 1)
    bad = (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw[: len(raw) // 2]))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_png(bad)
    # surplus bytes are an error too
    bad2 = (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw + b"\x00" * 7))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_png(bad2)


def test_png_adam7_property_roundtrip():
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(min_value=1, max_value=20),
        st.integers(min_value=1, max_value=20),
        st.sampled_from([1, 3, 4]),
        st.integers(min_value=0, max_value=2**32 - 1),
    )
    def prop(h, w, c, seed):
        img = np.random.RandomState(seed).randint(0, 256, size=(h, w, c), dtype=np.uint8)
        np.testing.assert_array_equal(decode_png(encode_png(img, interlace=True)), img)

    prop()


def _png16_bytes(img16: np.ndarray) -> np.ndarray:
    """(h, w, c) uint16 -> (h, w, 2c) big-endian byte image; PNG
    filters run on bytes with bpp = 2c, which is exactly what
    _forward_filter computes when fed this shape."""
    h, w, c = img16.shape
    hi = (img16 >> 8).astype(np.uint8)
    lo = (img16 & 0xFF).astype(np.uint8)
    return np.stack([hi, lo], axis=-1).reshape(h, w, 2 * c)


@pytest.mark.parametrize("color,c", [(0, 1), (2, 3), (6, 4)])
def test_png_16bit_decodes_high_byte(color, c):
    """16-bit samples: filters on bytes (bpp=2c), output reduces to the
    high byte (libpng/PIL convention). All five filters exercised."""
    rng = np.random.RandomState(60 + c)
    img16 = rng.randint(0, 65536, size=(9, 7, c), dtype=np.uint16)
    byte_img = _png16_bytes(img16)
    raw = _forward_filter(byte_img, [0, 1, 2, 3, 4])
    ihdr = struct.pack(">IIBBBBB", 7, 9, 16, color, 0, 0, 0)
    data = (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    np.testing.assert_array_equal(decode_png(data), (img16 >> 8).astype(np.uint8))


def test_png_16bit_adam7():
    """16-bit + Adam7 together: per-pass byte filtering, high-byte
    reduction after the scatter."""
    rng = np.random.RandomState(70)
    img16 = rng.randint(0, 65536, size=(13, 10, 3), dtype=np.uint16)
    byte_img = _png16_bytes(img16)
    ihdr = struct.pack(">IIBBBBB", 10, 13, 16, 2, 0, 0, 1)
    parts = []
    for x0, y0, dx, dy in _adam7_passes():
        sub = byte_img[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        parts.append(_forward_filter(np.ascontiguousarray(sub), [2, 4, 1]))
    data = (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"".join(parts)))
        + _chunk(b"IEND", b"")
    )
    np.testing.assert_array_equal(decode_png(data), (img16 >> 8).astype(np.uint8))


def test_png_16bit_palette_rejected():
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)
    data = (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="palette"):
        decode_png(data)


def test_png_property_roundtrip():
    """Arbitrary small images round-trip through encode_png/decode_png."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=1, max_value=12),
        st.sampled_from([1, 2, 3, 4]),
        st.integers(min_value=0, max_value=2**32 - 1),
    )
    def prop(h, w, c, seed):
        img = np.random.RandomState(seed).randint(0, 256, size=(h, w, c), dtype=np.uint8)
        np.testing.assert_array_equal(decode_png(encode_png(img)), img)

    prop()


def test_wav_property_roundtrip():
    """Arbitrary int16 sample blocks round-trip through encode/decode."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=200),
        st.sampled_from([1, 2]),
        st.sampled_from([8000, 16000, 44100]),
    )
    def prop(flat, nch, rate):
        n = (len(flat) // nch) * nch
        if n == 0:
            return
        samples = np.array(flat[:n], dtype=np.int16).reshape(-1, nch)
        got, r = decode_wav(encode_wav(samples, rate))
        assert r == rate
        np.testing.assert_array_equal(got, samples)

    prop()


def test_png_color_key_transparency():
    """tRNS on gray/RGB (spec §11.3.2): exact color-key pixels get
    alpha 0, everything else 255; 16-bit keys match FULL-precision
    samples (high-byte-equal-but-low-byte-different must NOT match)."""
    # depth 8 RGB: key = (10, 20, 30)
    img = np.array(
        [[[10, 20, 30], [10, 20, 31]], [[0, 0, 0], [10, 20, 30]]], dtype=np.uint8
    )
    raw = _forward_filter(img, [0])
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    trns = struct.pack(">3H", 10, 20, 30)
    data = (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"tRNS", trns)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    out = decode_png(data)
    assert out.shape == (2, 2, 4)
    np.testing.assert_array_equal(out[:, :, 3], [[0, 255], [255, 0]])
    np.testing.assert_array_equal(out[:, :, :3], img)
    # depth 16 gray: key 0x1234 — pixel 0x1235 shares the high byte but
    # must stay opaque
    img16 = np.array([[0x1234, 0x1235], [0x9999, 0x1234]], dtype=np.uint16)[:, :, None]
    raw = _forward_filter(_png16_bytes(img16), [0])
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    data = (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"tRNS", struct.pack(">H", 0x1234))
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    out = decode_png(data)
    assert out.shape == (2, 2, 2)  # gray + alpha
    np.testing.assert_array_equal(out[:, :, 1], [[0, 255], [255, 0]])
    np.testing.assert_array_equal(out[:, :, 0], (img16[:, :, 0] >> 8).astype(np.uint8))


def _pack_sub8(vals: np.ndarray, depth: int) -> np.ndarray:
    """(h, w) values -> (h, row_bytes) MSB-first packed rows (spec §7.2),
    built independently of the decoder."""
    h, w = vals.shape
    bits = ((vals[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1).astype(np.uint8)
    flat = bits.reshape(h, w * depth)
    pad = (-flat.shape[1]) % 8
    if pad:
        flat = np.concatenate([flat, np.zeros((h, pad), dtype=np.uint8)], axis=1)
    return np.packbits(flat, axis=1)


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_png_sub8_gray(depth):
    """1/2/4-bit grayscale (document scans, old-web graphics): packed
    MSB-first rows, byte-level filters, spec sample scaling (x255/85/17)."""
    rng = np.random.RandomState(depth)
    vals = rng.randint(0, 1 << depth, size=(7, 11), dtype=np.uint8)
    packed = _pack_sub8(vals, depth)
    raw = _forward_filter(packed[:, :, None], [0, 2])  # None + Up filters
    ihdr = struct.pack(">IIBBBBB", 11, 7, depth, 0, 0, 0, 0)
    data = (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    want = (vals * (255 // ((1 << depth) - 1))).astype(np.uint8)[:, :, None]
    np.testing.assert_array_equal(decode_png(data), want)


def test_png_sub8_palette_and_interlace():
    """4-bit palette + Adam7: packed indices per pass, palette expansion."""
    rng = np.random.RandomState(9)
    plte = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.randint(0, 16, size=(9, 6), dtype=np.uint8)
    # non-interlaced palette
    packed = _pack_sub8(idx, 4)
    raw = _forward_filter(packed[:, :, None], [0, 1])
    ihdr = struct.pack(">IIBBBBB", 6, 9, 4, 3, 0, 0, 0)
    data = (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", plte.tobytes())
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    np.testing.assert_array_equal(decode_png(data), plte[idx])
    # Adam7 1-bit gray: per-pass packing + filtering
    vals = rng.randint(0, 2, size=(10, 9), dtype=np.uint8)
    parts = []
    for x0, y0, dx, dy in _adam7_passes():
        sub = vals[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        parts.append(_forward_filter(_pack_sub8(sub, 1)[:, :, None], [0, 2]))
    ihdr = struct.pack(">IIBBBBB", 9, 10, 1, 0, 0, 0, 1)
    data = (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"".join(parts)))
        + _chunk(b"IEND", b"")
    )
    np.testing.assert_array_equal(decode_png(data), (vals * 255)[:, :, None])


def test_png_sub8_gray_color_key():
    """tRNS on 2-bit gray: the key's LOW bits select the transparent
    level; output is scaled gray + alpha."""
    vals = np.array([[0, 1], [2, 3]], dtype=np.uint8)
    packed = _pack_sub8(vals, 2)
    raw = _forward_filter(packed[:, :, None], [0])
    ihdr = struct.pack(">IIBBBBB", 2, 2, 2, 0, 0, 0, 0)
    data = (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"tRNS", struct.pack(">H", 2))
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    out = decode_png(data)
    assert out.shape == (2, 2, 2)
    np.testing.assert_array_equal(out[:, :, 0], vals * 85)
    np.testing.assert_array_equal(out[:, :, 1], [[255, 255], [0, 255]])


# --- round-6: MP3 Layer I subband-energy tier --------------------------------


def _l1_track(seed: int, n_frames: int = 130) -> np.ndarray:
    """Synthetic subband-domain track with a stepped energy envelope."""
    rng = np.random.default_rng(seed)
    sub = np.zeros((n_frames, 32, 12))
    env = np.repeat(rng.choice([0.05, 0.2, 0.8, 0.4], size=(n_frames + 9) // 10), 10)
    for f in range(n_frames):
        sub[f, :6, :] = rng.uniform(-1, 1, (6, 12)) * env[f]
    return sub


def test_mp3_layer1_energy_roundtrip():
    """Requantized subband energies track the construction-side truth;
    amplitude scales quadratically; a coarser re-encode preserves the
    envelope; Layer III refuses; forbidden field values raise."""
    from pg2kinesis_spark.functions.codecs import (
        encode_mp3_frames,
        encode_mp3_layer1,
        mp3_info,
        mp3_subband_energies,
    )

    sub = _l1_track(7)
    mp3 = encode_mp3_layer1(sub, kbps=256)
    e = mp3_subband_energies(mp3)
    true_e = (sub**2).mean(axis=(1, 2))
    assert len(e) == 130
    assert np.corrcoef(e, true_e)[0, 1] > 0.9999
    # the metadata walk reads the same stream as Layer I CBR
    info = mp3_info(mp3)
    assert (info["layer"], info["n_frames"], info["vbr"]) == (1, 130, False)
    # half volume: every frame's energy scales by exactly 1/4 (up to
    # requantization) — the fingerprint's comparison bits cannot move
    e_half = mp3_subband_energies(encode_mp3_layer1(sub * 0.5, kbps=256))
    assert np.allclose(e_half / e, 0.25, rtol=1e-6)
    # re-encode at 96 kbps: coarser codes, same envelope
    e_re = mp3_subband_energies(encode_mp3_layer1(sub, kbps=96))
    assert np.corrcoef(e, e_re)[0, 1] > 0.999
    # stereo mono-mixes
    st = np.stack([sub, sub * 0.7], axis=1)
    assert len(mp3_subband_energies(encode_mp3_layer1(st, kbps=384))) == 130
    # MPEG-2 LSF Layer I/II refuses honestly (LSF allocation tables);
    # Layer III LSF decodes since round 7 — see the LSF proxy test
    with pytest.raises(NotImplementedError, match="MPEG-2"):
        mp3_subband_energies(
            encode_mp3_frames(5, kbps=64, rate=22050, mpeg2=True, layer=2)
        )
    # hostile field values: allocation 15 / scalefactor 63 are forbidden
    one = bytearray(encode_mp3_layer1(sub[:1], kbps=256))
    one[4] = 0xFF  # first two 4-bit allocations -> 15, 15
    with pytest.raises(ValueError, match="allocation"):
        mp3_subband_energies(bytes(one))


def test_mp3_layer1_joint_stereo_bound():
    """ADVICE r10: MPEG-1 Layer I mode==1 (intensity stereo) transmits
    ONE allocation and ONE sample set per subband above the bound
    ((mode_ext+1)*4), per-channel scalefactors throughout. Both the
    sample decoder and the energy walk must honor it — before the fix
    the bit walk desynced and produced silently wrong PCM."""
    from pg2kinesis_spark.functions.codecs import (
        encode_mp3_layer1,
        mp3_l12_subband_samples,
        mp3_subband_energies,
    )

    rng = np.random.default_rng(17)
    sub = np.zeros((5, 2, 32, 12))
    # below-bound subbands differ per channel; above-bound are shared
    # (what an intensity-stereo encoder transmits)
    sub[:, 0, :3] = rng.uniform(-1, 1, (5, 3, 12))
    sub[:, 1, :3] = rng.uniform(-1, 1, (5, 3, 12))
    sub[:, :, 9:11] = rng.uniform(-1, 1, (5, 1, 2, 12))
    for bound in (4, 8, 16):
        mp3 = encode_mp3_layer1(sub, kbps=384, joint_bound=bound)
        got, rate = mp3_l12_subband_samples(mp3)
        assert rate == 44100 and got.shape == (60, 32, 2)
        want = sub.transpose(0, 3, 2, 1).reshape(60, 32, 2)
        assert np.allclose(got, want, atol=2e-3), bound
        # the energy walk stays on the same truth
        e = mp3_subband_energies(mp3)
        true_e = (((sub[:, 0] + sub[:, 1]) / 2.0) ** 2).mean(axis=(1, 2))
        assert np.corrcoef(e, true_e)[0, 1] > 0.9999, bound
    with pytest.raises(ValueError, match="joint_bound"):
        encode_mp3_layer1(sub[:, :1, :, :], joint_bound=8)


def test_mp3_fingerprint_reencoded_copies_pair(spark):
    """The WAV oracle's invariances, on MP3: a half-volume copy and a
    lower-bitrate re-encode of the same track pair up in
    media_near_dup_pairs(signature='audio'); an independent track
    separates; an MPEG-2 file quarantines (NULL afp, cannot pair)."""
    from pg2kinesis_spark.functions.codecs import (
        encode_mp3_frames,
        encode_mp3_layer1,
    )
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        audio_fingerprint,
        media_near_dup_pairs,
    )

    track = _l1_track(11)
    other = _l1_track(99)
    blobs = [
        encode_mp3_layer1(track, kbps=256),        # 0: original
        encode_mp3_layer1(track * 0.5, kbps=256),  # 1: half volume
        encode_mp3_layer1(track, kbps=96),         # 2: re-encode
        encode_mp3_layer1(other, kbps=256),        # 3: different track
        encode_mp3_frames(                         # 4: MPEG-2 Layer II LSF -> quarantine
            70, kbps=64, rate=22050, mpeg2=True, layer=2
        ),
    ]
    rows = [
        (i, bytearray(b), ("audio/mpeg", len(b), f"mem://{i}.mp3"))
        for i, b in enumerate(blobs)
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    fps = {r["media_id"]: r for r in audio_fingerprint(media).collect()}
    assert fps[4]["afp"] is None and "MPEG-2" in fps[4]["decode_error"]
    mask = (1 << 64) - 1
    assert bin((fps[0]["afp"] ^ fps[1]["afp"]) & mask).count("1") <= 3
    assert bin((fps[0]["afp"] ^ fps[2]["afp"]) & mask).count("1") <= 3
    assert bin((fps[0]["afp"] ^ fps[3]["afp"]) & mask).count("1") > 6

    pairs = media_near_dup_pairs(media, max_hamming=3, signature="audio").collect()
    got = {(r["media_id1"], r["media_id2"]) for r in pairs}
    assert (0, 1) in got and (0, 2) in got
    assert not any(3 in p or 4 in p for p in got)


def test_fuzz_mp3_layer1_energy_walk():
    from tests.test_codec_fuzz import _hammer

    from pg2kinesis_spark.functions.codecs import (
        encode_mp3_layer1,
        mp3_subband_energies,
    )

    corpus = [
        encode_mp3_layer1(_l1_track(3, n_frames=20), kbps=256),
        encode_mp3_layer1(
            np.stack([_l1_track(4, 10), _l1_track(5, 10)], axis=1), kbps=384
        ),
    ]
    _hammer(mp3_subband_energies, corpus, seed=48)


def _l2_track(seed, n_frames=80, n_active=6):
    """Random Layer II subband track (n_frames, 32, 36) with a stepped
    energy envelope — the 36-sample analogue of _l1_track."""
    rng = np.random.default_rng(seed)
    sub = np.zeros((n_frames, 32, 36))
    env = np.repeat(rng.choice([0.05, 0.2, 0.8, 0.4], size=(n_frames + 9) // 10), 10)
    for f in range(n_frames):
        sub[f, :n_active, :] = rng.uniform(-1, 1, (n_active, 36)) * env[f]
    return sub


def test_mp3_layer2_energy_roundtrip():
    """Layer II energies track construction truth through the Annex-B
    allocation tables and grouped codes; amplitude scales quadratically;
    a low-bitrate re-encode (different Annex-B table, grouped classes in
    play) preserves the envelope; stereo mono-mixes."""
    from pg2kinesis_spark.functions.codecs import (
        encode_mp3_layer2,
        mp3_info,
        mp3_subband_energies,
    )

    sub = _l2_track(3)
    mp3 = encode_mp3_layer2(sub, kbps=192)  # table B.2b (96 kbps/ch)
    e = mp3_subband_energies(mp3)
    true_e = (sub**2).mean(axis=(1, 2))
    assert len(e) == 80
    assert np.corrcoef(e, true_e)[0, 1] > 0.9999
    info = mp3_info(mp3)
    assert (info["layer"], info["n_frames"], info["vbr"]) == (2, 80, False)
    e_half = mp3_subband_energies(encode_mp3_layer2(sub * 0.5, kbps=192))
    assert np.allclose(e_half / e, 0.25, rtol=1e-6)
    # 64 kbps mono selects table B.2a; 48 kbps selects B.2c (sblimit 8,
    # grouped 3/5/9-step classes carry most subbands)
    e_a = mp3_subband_energies(encode_mp3_layer2(sub, kbps=64))
    assert np.corrcoef(e, e_a)[0, 1] > 0.999
    e_c = mp3_subband_energies(encode_mp3_layer2(sub, kbps=48))
    assert np.corrcoef(e, e_c)[0, 1] > 0.99
    st = np.stack([sub, sub * 0.7], axis=1)
    assert len(mp3_subband_energies(encode_mp3_layer2(st, kbps=384))) == 80
    # hostile: scalefactor 63 is forbidden in Layer II too
    one = bytearray(encode_mp3_layer2(sub[:1], kbps=192))
    # alloc for 30 subbands mono under B.2b = 94 bits, then 6 active
    # subbands x 2 scfsi bits; the first scalefactor follows -> force
    # six 1-bits there
    blob = bytearray(one)
    bit0 = 32 + 94 + 12
    for i in range(6):
        blob[(bit0 + i) // 8] |= 0x80 >> ((bit0 + i) % 8)
    with pytest.raises(ValueError, match="scalefactor"):
        mp3_subband_energies(bytes(blob))


def test_mp3_layer3_envelope_proxy():
    """Layer III side-info proxy: per-granule energies follow the
    planted global_gain envelope, are exactly bitrate-invariant, scale
    exactly 4x down at half volume (gg shift of −4 is representable),
    and silent granules (part2_3_length 0) are exactly 0."""
    from pg2kinesis_spark.functions.codecs import (
        encode_mp3_layer3_envelope,
        mp3_info,
        mp3_subband_energies,
    )

    rng = np.random.default_rng(9)
    env = np.concatenate([np.zeros(4), rng.uniform(0.01, 2.0, 136)])
    l3 = encode_mp3_layer3_envelope(env, kbps=128)
    p = np.asarray(mp3_subband_energies(l3))
    assert len(p) == 140  # 2 granules per frame
    assert np.all(p[:4] == 0.0)
    assert np.corrcoef(p[4:], env[4:])[0, 1] > 0.97  # gg is 3 dB-stepped
    assert (mp3_info(l3)["layer"], mp3_info(l3)["n_frames"]) == (3, 70)
    p_re = np.asarray(mp3_subband_energies(encode_mp3_layer3_envelope(env, kbps=96)))
    assert np.array_equal(p, p_re)
    p_half = np.asarray(
        mp3_subband_energies(encode_mp3_layer3_envelope(env * 0.25, kbps=128))
    )
    assert np.allclose(p_half[4:] / p[4:], 0.25)
    # stereo side-info layout parses too
    st = encode_mp3_layer3_envelope(env, kbps=128, mono=False)
    assert len(mp3_subband_energies(st)) == 140


def test_mp3_lsf_layer3_envelope_proxy(spark):
    """LSF (MPEG-2/2.5) Layer III side-info proxy: one granule per
    frame through the 13818-3 layout (8-bit main_data_begin, 9-bit
    scalefac_compress, no scfsi/preflag), bitrate-invariant, exact ×¼
    at quarter energy — and because the proxy consumes per-GRANULE
    energies, the same envelope encoded as MPEG-1 and as LSF
    fingerprints IDENTICALLY (cross-version re-encode pairs)."""
    from pg2kinesis_spark.functions.codecs import (
        encode_mp3_layer3_envelope,
        mp3_info,
        mp3_subband_energies,
    )
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        audio_fingerprint,
    )

    rng = np.random.default_rng(17)
    env = np.concatenate([np.zeros(3), rng.uniform(0.01, 2.0, 137)])
    v2 = encode_mp3_layer3_envelope(env, rate=22050, kbps=64, version="2")
    p = np.asarray(mp3_subband_energies(v2))
    assert len(p) == 140  # ONE granule per LSF frame
    assert np.all(p[:3] == 0.0)
    assert np.corrcoef(p[3:], env[3:])[0, 1] > 0.97
    info = mp3_info(v2)
    assert (info["version"], info["layer"], info["n_frames"]) == ("2", 3, 140)
    # bitrate-invariant across LSF rates, and across MPEG versions
    p_re = np.asarray(
        mp3_subband_energies(
            encode_mp3_layer3_envelope(env, rate=22050, kbps=32, version="2")
        )
    )
    assert np.array_equal(p, p_re)
    v25 = encode_mp3_layer3_envelope(env, rate=11025, kbps=32, version="2.5")
    assert mp3_info(v25)["version"] == "2.5"
    assert np.array_equal(np.asarray(mp3_subband_energies(v25)), p)
    v1 = encode_mp3_layer3_envelope(env, rate=44100, kbps=128, version="1")
    assert np.array_equal(np.asarray(mp3_subband_energies(v1)), p)
    # quarter energy: gg shift of -4 is exactly representable
    p_q = np.asarray(
        mp3_subband_energies(
            encode_mp3_layer3_envelope(env * 0.25, rate=22050, kbps=64, version="2")
        )
    )
    assert np.allclose(p_q[3:] / p[3:], 0.25)
    # stereo LSF side info (17 bytes) parses too
    st = encode_mp3_layer3_envelope(env, rate=22050, kbps=64, version="2", mono=False)
    assert len(mp3_subband_energies(st)) == 140
    # end to end: MPEG-1 and MPEG-2.5 encodes of the same track carry
    # the SAME fingerprint
    rows = [
        (0, bytearray(v1), ("audio/mpeg", len(v1), "mem://v1.mp3")),
        (1, bytearray(v25), ("audio/mpeg", len(v25), "mem://v25.mp3")),
    ]
    fps = {
        r.media_id: r.afp
        for r in audio_fingerprint(
            spark.createDataFrame(rows, MEDIA_SCHEMA)
        ).collect()
    }
    assert fps[0] is not None and fps[0] == fps[1]


def test_mp3_layer23_fingerprint_copies_pair(spark):
    """The round-6 verdict bar: Layer II re-encodes and Layer III
    half-volume + 128→96 kbps re-encodes pair up in
    media_near_dup_pairs(signature='audio'); independent tracks and the
    cross-layer different-track rows separate."""
    from pg2kinesis_spark.functions.codecs import (
        encode_mp3_layer2,
        encode_mp3_layer3_envelope,
    )
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        media_near_dup_pairs,
    )

    rng = np.random.default_rng(21)
    env = rng.uniform(0.01, 1.5, 160)
    other_env = rng.uniform(0.01, 1.5, 160)
    l2 = _l2_track(31)
    l2_other = _l2_track(77)
    blobs = [
        encode_mp3_layer3_envelope(env, kbps=128),          # 0: L3 original
        encode_mp3_layer3_envelope(env * 0.25, kbps=128),   # 1: half volume
        encode_mp3_layer3_envelope(env, kbps=96),           # 2: re-encode
        encode_mp3_layer3_envelope(other_env, kbps=128),    # 3: different track
        encode_mp3_layer2(l2, kbps=192),                    # 4: L2 original
        encode_mp3_layer2(l2 * 0.5, kbps=192),              # 5: L2 half volume
        encode_mp3_layer2(l2, kbps=64),                     # 6: L2 re-encode
        encode_mp3_layer2(l2_other, kbps=192),              # 7: L2 different
    ]
    rows = [
        (i, bytearray(b), ("audio/mpeg", len(b), f"mem://{i}.mp3"))
        for i, b in enumerate(blobs)
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    pairs = media_near_dup_pairs(media, max_hamming=3, signature="audio").collect()
    got = {(r["media_id1"], r["media_id2"]) for r in pairs}
    assert (0, 1) in got and (0, 2) in got
    assert (4, 5) in got and (4, 6) in got
    assert not any((3 in p or 7 in p) for p in got)
    assert not any(p[0] < 4 <= p[1] or p[0] >= 4 > p[1] for p in got)


def test_fuzz_mp3_layer23_energy_walk():
    from tests.test_codec_fuzz import _hammer

    from pg2kinesis_spark.functions.codecs import (
        encode_mp3_layer2,
        encode_mp3_layer3_envelope,
        mp3_subband_energies,
    )

    rng = np.random.default_rng(11)
    corpus = [
        encode_mp3_layer2(_l2_track(6, n_frames=12), kbps=192),
        encode_mp3_layer2(
            np.stack([_l2_track(7, 8), _l2_track(8, 8)], axis=1), kbps=384
        ),
        encode_mp3_layer2(_l2_track(12, n_frames=10), kbps=48),
        encode_mp3_layer3_envelope(rng.uniform(0.01, 1.5, 24), kbps=128),
        encode_mp3_layer3_envelope(
            rng.uniform(0.01, 1.5, 24), rate=22050, kbps=64, version="2"
        ),
    ]
    _hammer(mp3_subband_energies, corpus, seed=49)


def test_audio_fingerprint_short_track_quarantines(spark):
    """Sub-65-frame MP3s (and sub-65-sample WAVs) must refuse rather
    than fingerprint as 0 — two unrelated short tracks would otherwise
    pair at hamming 0."""
    from pg2kinesis_spark.functions.codecs import encode_mp3_layer1, encode_wav
    from pg2kinesis_spark.functions.multimodal import MEDIA_SCHEMA, audio_fingerprint

    short_mp3 = encode_mp3_layer1(_l1_track(21, n_frames=20), kbps=256)
    short_wav = encode_wav(np.arange(30, dtype=np.int16)[:, None], 8000)
    ok_mp3 = encode_mp3_layer1(_l1_track(22, n_frames=70), kbps=256)
    rows = [
        (0, bytearray(short_mp3), ("audio/mpeg", len(short_mp3), "m")),
        (1, bytearray(short_wav), ("audio/wav", len(short_wav), "w")),
        (2, bytearray(ok_mp3), ("audio/mpeg", len(ok_mp3), "ok")),
    ]
    fps = {r.media_id: r for r in audio_fingerprint(
        spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
    assert fps[0].afp is None and "too short" in fps[0].decode_error
    assert fps[1].afp is None and "too short" in fps[1].decode_error
    assert fps[2].afp is not None and fps[2].decode_error is None


def test_mp3_crc_protected_xing_frame_excluded():
    """Review finding (round 7): protection_bit 0 inserts a 2-byte CRC
    before the side info, and real writers place the Xing tag AFTER
    it — both walks must probe at the shifted offset or a protected
    metadata frame injects a bogus energy / frame count."""
    from pg2kinesis_spark.functions.codecs import (
        encode_mp3_layer3_envelope,
        mp3_info,
        mp3_subband_energies,
    )

    rng = np.random.default_rng(5)
    env = rng.uniform(0.01, 1.5, 20)
    plain = encode_mp3_layer3_envelope(env, kbps=128)
    flen = len(plain) // 10
    frame = bytearray(plain[:flen])
    # rebuild frame 0 as a CRC-PROTECTED Xing frame: clear the
    # protection bit, insert 2 CRC bytes, write Xing after side info
    frame[1] &= ~1
    side = 32  # stereo MPEG-1 Layer III
    prot = bytes(frame[:4]) + b"\x00\x00" + bytes(frame[4 : flen - 2])
    prot = bytearray(prot)
    prot[4 + 2 + side : 4 + 2 + side + 4] = b"Xing"
    data = bytes(prot) + plain
    m = mp3_info(data)
    assert m["n_frames"] == 10  # the protected Xing frame is excluded
    p = np.asarray(mp3_subband_energies(data))
    assert len(p) == 20  # two granules per real frame, Xing skipped
    assert np.array_equal(p, np.asarray(mp3_subband_energies(plain)))
