"""Baseline JPEG codec: independent oracles + round trips + Spark paths.

Trust strategy (the codec is hand-written, so the evidence is layered):

* the DCT basis is pinned against the naive O(N^4) definition form of
  T.81 A.3.3 — a completely independent derivation;
* the canonical huffman assignment is pinned against hand-derived spec
  codes (T.81 Annex K Table K.3);
* encode->decode round trips bound reconstruction error on solid,
  smooth, and noise content at several qualities and samplings —
  encoder and decoder share only the table constants, so a defect in
  either direction breaks the tolerance;
* restart-marker streams must decode pixel-identical to the same image
  without restarts;
* the Spark-side multimodal paths (features / luma / resize / dHash)
  run the real kernels over JPEG content, including a cross-format
  PNG<->JPEG near-dup pairing.
"""

from __future__ import annotations

import numpy as np
import pytest

from pg2kinesis_spark.functions.codecs import (
    _DCT_M,
    _H_DC_LUMA,
    _huff_codes,
    decode_image,
    decode_jpeg,
    decode_png,
    encode_jpeg,
    encode_png,
    is_jpeg,
    resize_nearest,
)


def _smooth_img(h, w, c=3, seed=0):
    """Low-frequency content a lossy codec should reproduce closely."""
    rng = np.random.RandomState(seed)
    base = rng.randint(30, 226, (3, 4, c)).astype(np.uint8)
    return resize_nearest(base, w, h)


# --- independent oracles ---------------------------------------------------

def test_dct_matrix_matches_definition():
    """F(u,v) = 1/4 C(u) C(v) sum_x sum_y f(x,y) cos(...) cos(...) —
    the T.81 A.3.3 definition, evaluated with four explicit loops."""
    rng = np.random.RandomState(3)
    f = rng.randint(-128, 128, (8, 8)).astype(np.float64)
    want = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = 1 / np.sqrt(2) if u == 0 else 1.0
            cv = 1 / np.sqrt(2) if v == 0 else 1.0
            s = 0.0
            for x in range(8):
                for y in range(8):
                    s += (
                        f[y, x]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            want[v, u] = 0.25 * cu * cv * s
    got = _DCT_M @ f @ _DCT_M.T
    np.testing.assert_allclose(got, want, atol=1e-9)
    # and the inverse is the transpose pair
    np.testing.assert_allclose(_DCT_M.T @ got @ _DCT_M, f, atol=1e-9)


def test_huffman_canonical_assignment_matches_spec():
    """T.81 Annex K Table K.3: the DC luminance codes, hand-derived."""
    codes = _huff_codes(*_H_DC_LUMA)
    assert codes[0] == (0b00, 2)
    assert codes[1] == (0b010, 3)
    assert codes[5] == (0b110, 3)
    assert codes[6] == (0b1110, 4)
    assert codes[11] == (0b111111110, 9)


# --- round trips -----------------------------------------------------------

def test_solid_blocks_roundtrip_exact():
    for val in (0, 128, 255):
        img = np.full((16, 16), val, dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(img, quality=95))
        assert dec.shape == (16, 16, 1)
        assert int(np.abs(dec[:, :, 0].astype(int) - int(val)).max()) <= 1


def test_gray_gradient_roundtrip_odd_dims():
    g = np.add.outer(np.arange(17) * 9, np.arange(13) * 4).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(g, quality=95))
    assert dec.shape == (17, 13, 1)
    assert np.abs(dec[:, :, 0].astype(int) - g.astype(int)).max() <= 3


def test_rgb_444_roundtrip_tolerance():
    img = _smooth_img(24, 32)
    dec = decode_jpeg(encode_jpeg(img, quality=95))
    assert dec.shape == (24, 32, 3)
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.max() <= 8 and err.mean() <= 2.0


def test_rgb_420_roundtrip_tolerance():
    img = _smooth_img(24, 32, seed=1)
    dec = decode_jpeg(encode_jpeg(img, quality=95, subsample=True))
    assert dec.shape == (24, 32, 3)
    # chroma is 2x2-averaged: bound the error on the luma reconstruction
    luma = lambda a: 0.299 * a[:, :, 0] + 0.587 * a[:, :, 1] + 0.114 * a[:, :, 2]
    assert np.abs(luma(dec.astype(float)) - luma(img.astype(float))).mean() <= 3.0


def test_noise_roundtrip_bounded_and_quality_tradeoff():
    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, (24, 24, 3)).astype(np.uint8)
    hi = encode_jpeg(img, quality=95)
    lo = encode_jpeg(img, quality=30)
    assert len(lo) < len(hi)  # coarser tables compress harder
    err_hi = np.abs(decode_jpeg(hi).astype(int) - img.astype(int)).mean()
    err_lo = np.abs(decode_jpeg(lo).astype(int) - img.astype(int)).mean()
    assert err_hi < err_lo  # and reconstruct worse
    assert err_hi < 20.0


def test_restart_markers_decode_pixel_identical():
    img = _smooth_img(40, 24, seed=2)
    plain = decode_jpeg(encode_jpeg(img, quality=90))
    restarted = decode_jpeg(encode_jpeg(img, quality=90, restart_interval=2))
    np.testing.assert_array_equal(plain, restarted)
    # and with 4:2:0 MCUs
    plain = decode_jpeg(encode_jpeg(img, quality=90, subsample=True))
    restarted = decode_jpeg(encode_jpeg(img, quality=90, subsample=True, restart_interval=1))
    np.testing.assert_array_equal(plain, restarted)


def test_arithmetic_and_garbage_rejected():
    jp = bytearray(encode_jpeg(np.zeros((8, 8), dtype=np.uint8)))
    sof = jp.find(b"\xff\xc0")
    jp[sof + 1] = 0xC9  # pretend arithmetic-coded (SOF9)
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(jp))
    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01\x02")
    with pytest.raises(ValueError):
        # cut inside the entropy stream of a non-trivial image
        decode_jpeg(encode_jpeg(_smooth_img(24, 32), quality=95)[:-20])
    with pytest.raises(ValueError):
        # cut inside the header tables of a tiny image
        decode_jpeg(encode_jpeg(np.zeros((8, 8), dtype=np.uint8))[:-20])
    with pytest.raises(ValueError):
        encode_jpeg(np.zeros((4, 4, 4), dtype=np.uint8))  # RGBA unsupported


def test_decode_image_dispatch():
    img = _smooth_img(8, 8)
    assert decode_image(encode_png(img)).shape == (8, 8, 3)
    assert decode_image(encode_jpeg(img)).shape == (8, 8, 3)
    assert is_jpeg(encode_jpeg(img))
    with pytest.raises(NotImplementedError):
        decode_image(b"RIFFxxxxWAVE")  # audio is not an image


# --- Spark-side real paths -------------------------------------------------

@pytest.fixture()
def jpeg_media(spark):
    from pg2kinesis_spark.functions.multimodal import MEDIA_SCHEMA

    rows = []
    for i, (h, w, c) in enumerate([(24, 16, 3), (16, 16, 1)]):
        img = _smooth_img(h, w, c, seed=i)
        data = encode_jpeg(img[:, :, 0] if c == 1 else img, quality=95)
        rows.append((i, bytearray(data), ("image/jpeg", len(data), f"mem://{i}")))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features_real_jpeg(spark, jpeg_media):
    from pg2kinesis_spark.functions.multimodal import extract_features

    got = {
        r["media_id"]: (r["width"], r["height"])
        for r in extract_features(jpeg_media, fake=False).collect()
    }
    assert got == {0: (16, 24), 1: (16, 16)}


def test_extract_image_features_real_jpeg(spark, jpeg_media):
    from pg2kinesis_spark.functions.multimodal import extract_image_features

    rows = {r["media_id"]: r for r in extract_image_features(jpeg_media).collect()}
    assert rows[0]["n_channels"] == 3 and rows[1]["n_channels"] == 1
    # lossy codec: luma within 2 levels of the source mean
    src = _smooth_img(16, 16, 1, seed=1)
    assert rows[1]["mean_luma"] == pytest.approx(float(src.mean()), abs=2.0)


def test_media_dhash_cross_format_neardup(spark):
    """The same picture shipped as PNG and as JPEG must land within a
    few dHash bits — the exact cross-codec dedup case the perceptual
    hash exists for — while different content stays far away."""
    from pg2kinesis_spark.functions.multimodal import MEDIA_SCHEMA, media_dhash

    img_a = _smooth_img(32, 32, seed=5)
    img_b = _smooth_img(32, 32, seed=11)
    rows = [
        (0, bytearray(encode_png(img_a)), ("image/png", 0, "a.png")),
        (1, bytearray(encode_jpeg(img_a, quality=90)), ("image/jpeg", 0, "a.jpg")),
        (2, bytearray(encode_jpeg(img_b, quality=90)), ("image/jpeg", 0, "b.jpg")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    h = {r["media_id"]: r["dhash"] for r in media_dhash(media).collect()}
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(h[0], h[1]) <= 6  # same picture, different codec
    assert ham(h[0], h[2]) > 8 and ham(h[1], h[2]) > 8  # different picture


# --- MJPEG AVI video -------------------------------------------------------

from pg2kinesis_spark.functions.codecs import (  # noqa: E402
    decode_avi_mjpeg,
    encode_avi_mjpeg,
    is_avi,
)


def _clip_frames(n=5, seed=4, shift=0):
    base = _smooth_img(16, 24, seed=seed)
    return [
        np.clip(base.astype(int) + 10 * i + shift, 0, 255).astype(np.uint8)
        for i in range(n)
    ]


def test_avi_roundtrip_frames():
    frames = _clip_frames()
    avi = encode_avi_mjpeg(frames, fps=10, quality=95)
    assert is_avi(avi)
    dec = decode_avi_mjpeg(avi)
    assert len(dec) == 5 and dec[0].shape == (16, 24, 3)
    for d, f in zip(dec, frames):
        assert np.abs(d.astype(int) - f.astype(int)).mean() <= 4.0


def test_avi_rejections():
    with pytest.raises(ValueError):
        decode_avi_mjpeg(b"RIFF\x00\x00\x00\x00WAVE")  # a WAV is not an AVI
    with pytest.raises(ValueError):
        encode_avi_mjpeg([])
    with pytest.raises(ValueError):
        encode_avi_mjpeg(
            [np.zeros((8, 8, 3), np.uint8), np.zeros((16, 8, 3), np.uint8)]
        )
    # an AVI whose movi list is empty of video chunks
    frames = _clip_frames(n=1)
    avi = bytearray(encode_avi_mjpeg(frames))
    avi = avi.replace(b"00dc", b"00xx")
    with pytest.raises(ValueError, match="no video frames"):
        decode_avi_mjpeg(bytes(avi))


def test_video_frames_spark_and_cross_video_neardup(spark):
    """The real video path: AVI clips decode to their first-frame
    dimensions."""
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
    )

    clip_a = _clip_frames(seed=4)
    clip_a2 = _clip_frames(seed=4, shift=12)  # same content, brighter
    clip_b = _clip_frames(seed=21)
    rows = [
        (i, bytearray(encode_avi_mjpeg(c, quality=92)), ("video/avi", 0, f"mem://{i}"))
        for i, c in enumerate([clip_a, clip_a2, clip_b])
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    # container-level features: first-frame dims
    dims = {r["media_id"]: (r["width"], r["height"]) for r in extract_features(media, fake=False).collect()}
    assert dims == {0: (24, 16), 1: (24, 16), 2: (24, 16)}


def test_jpeg_property_roundtrip():
    """Arbitrary small images survive encode/decode at any quality:
    correct shape, no exceptions, and at high quality a bounded error
    (lossy, so exact equality is not the contract)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(min_value=1, max_value=20),
        st.integers(min_value=1, max_value=20),
        st.sampled_from([1, 3]),
        st.sampled_from([30, 75, 95]),
        st.booleans(),
        st.integers(min_value=0, max_value=2**32 - 1),
    )
    def prop(h, w, c, quality, subsample, seed):
        img = np.random.RandomState(seed).randint(0, 256, (h, w, c), dtype=np.uint8)
        src = img[:, :, 0] if c == 1 else img
        dec = decode_jpeg(encode_jpeg(src, quality=quality, subsample=subsample and c == 3))
        assert dec.shape == (h, w, c)
        if quality == 95 and not subsample:
            err = np.abs(dec.astype(int) - img.astype(int)).mean()
            assert err < 25.0  # noise is the worst case for a DCT codec

    prop()


def test_rgb_422_roundtrip_and_restart():
    """4:2:2 (horizontal-only chroma): decoder exercises h=2, v=1."""
    img = _smooth_img(24, 32, seed=6)
    dec = decode_jpeg(encode_jpeg(img, quality=95, subsample="422"))
    assert dec.shape == (24, 32, 3)
    assert np.abs(dec.astype(int) - img.astype(int)).mean() <= 2.0
    # tighter than 4:2:0 on the same content (only one axis averaged)
    dec420 = decode_jpeg(encode_jpeg(img, quality=95, subsample="420"))
    err422 = np.abs(dec.astype(int) - img.astype(int)).mean()
    err420 = np.abs(dec420.astype(int) - img.astype(int)).mean()
    assert err422 <= err420 + 0.25
    # restart markers with 4:2:2 MCUs decode pixel-identical
    a = decode_jpeg(encode_jpeg(img, quality=90, subsample="422"))
    b = decode_jpeg(encode_jpeg(img, quality=90, subsample="422", restart_interval=1))
    np.testing.assert_array_equal(a, b)
    with pytest.raises(ValueError, match="subsample"):
        encode_jpeg(img, subsample="411")


def test_video_info_header_only_and_spark(spark):
    """Container metadata without pixel decode, for both video formats."""
    from pg2kinesis_spark.functions.codecs import encode_gif_frames, video_info
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_video_features,
    )

    clip = _clip_frames(n=5, seed=4)
    avi = encode_avi_mjpeg(clip, fps=10, quality=90)
    info = video_info(avi)
    assert info == {"n_frames": 5, "width": 24, "height": 16, "fps": 10.0, "duration_ms": 500.0}

    # animated GIF: frame count + GCE delays, still no decode
    pal = np.array([[0, 0, 0], [9, 9, 9]], np.uint8)
    gframes = [pal[np.zeros((12, 10), np.uint8)] for _ in range(4)]
    gif = encode_gif_frames(gframes, delay_cs=5)
    ginfo = video_info(gif)
    assert ginfo["n_frames"] == 4 and ginfo["duration_ms"] == 200.0
    assert (ginfo["width"], ginfo["height"]) == (10, 12)

    with pytest.raises(ValueError):
        video_info(b"not a container")

    media = spark.createDataFrame(
        [
            (0, bytearray(avi), ("video/avi", 0, "a.avi")),
            (1, bytearray(gif), ("image/gif", 0, "b.gif")),
        ],
        MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in extract_video_features(media).collect()}
    assert rows[0]["n_frames"] == 5 and rows[0]["fps"] == 10.0
    assert rows[1]["n_frames"] == 4 and rows[1]["duration_ms"] == 200.0


def test_jpeg_16bit_quant_tables_decode():
    """DQT precision 1 (16-bit entries, T.81 B.2.4.1): a stream whose
    16-bit tables hold the same values as the 8-bit original decodes
    PIXEL-IDENTICAL; quant steps above 255 also parse."""
    import struct

    import numpy as np

    from pg2kinesis_spark.functions.codecs import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(55)
    img = rng.randint(0, 256, size=(16, 16, 3), dtype=np.uint8)
    data = encode_jpeg(img, quality=85)
    # rewrite every DQT segment to precision-1 (16-bit) form
    out = bytearray()
    pos = 0
    while pos < len(data):
        if data[pos : pos + 2] == b"\xff\xdb":
            (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
            body = data[pos + 4 : pos + 2 + seglen]
            new_body = bytearray()
            i = 0
            while i < len(body):
                tq = body[i] & 15
                vals = body[i + 1 : i + 65]
                new_body += bytes([(1 << 4) | tq])
                new_body += b"".join(struct.pack(">H", v) for v in vals)
                i += 65
            out += b"\xff\xdb" + struct.pack(">H", 2 + len(new_body)) + new_body
            pos += 2 + seglen
        else:
            out.append(data[pos])
            pos += 1
    np.testing.assert_array_equal(decode_jpeg(bytes(out)), decode_jpeg(data))


def test_avi_frame_indices_skip_decode_cost():
    """frame_indices decodes ONLY the sampled ordinals — identical
    frames to the decode-all+slice path, at RIFF-walk cost for the
    skipped ones (MJPEG frames are independent, unlike GIF)."""
    import numpy as np

    from pg2kinesis_spark.functions.codecs import decode_avi_mjpeg, encode_avi_mjpeg

    rng = np.random.RandomState(66)
    frames = [rng.randint(0, 256, size=(16, 16, 3), dtype=np.uint8) for _ in range(12)]
    clip = encode_avi_mjpeg(frames, fps=10, quality=92)
    all_frames = decode_avi_mjpeg(clip)
    want = all_frames[::5][:3]  # stride 5, max 3 -> ordinals 0, 5, 10
    got = decode_avi_mjpeg(clip, frame_indices={0, 5, 10})
    assert len(got) == len(want) == 3
    for a, b in zip(got, want):
        np.testing.assert_array_equal(a, b)
    # sampling through the Spark operator matches frame-by-frame too
    from pg2kinesis_spark.functions.codecs import decode_jpeg  # noqa: F401


def test_avi_empty_frame_indices_returns_no_frames():
    """An explicitly empty frame_indices set asks for zero frames: no
    walk, no decode, no crash (regression: bare max() ValueError)."""
    import numpy as np

    from pg2kinesis_spark.functions.codecs import decode_avi_mjpeg, encode_avi_mjpeg

    frames = [np.full((16, 16, 3), 128, dtype=np.uint8) for _ in range(3)]
    avi = encode_avi_mjpeg(frames, quality=90)
    assert decode_avi_mjpeg(avi, frame_indices=set()) == []


# --- EXIF orientation (round 9) ----------------------------------------------


def test_exif_orientation_read_and_undo():
    """All 8 EXIF orientations: the APP1 TIFF blob reads through the
    shared IFD walk, apply_exif_orientation restores the upright image
    (shape-exact; pixels within JPEG loss), and an APP1 segment is
    transparent to decode_jpeg."""
    import numpy as np

    from pg2kinesis_spark.functions import codecs as C

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (24, 36, 3), dtype=np.uint8)
    stored_for = {
        1: img, 2: img[:, ::-1], 3: img[::-1, ::-1], 4: img[::-1],
        5: np.transpose(img, (1, 0, 2)),
        6: np.transpose(img, (1, 0, 2))[::-1],
        7: np.transpose(img, (1, 0, 2))[::-1, ::-1],
        8: np.transpose(img, (1, 0, 2))[:, ::-1],
    }
    for o, stored in stored_for.items():
        j = C.encode_jpeg(np.ascontiguousarray(stored), quality=92)
        tagged = j[:2] + C.encode_exif_app1(o) + j[2:]
        assert C.exif_orientation(tagged) == o
        und = C.apply_exif_orientation(C.decode_jpeg(tagged), o)
        assert und.shape == img.shape
        assert np.abs(und.astype(int) - img.astype(int)).mean() < 12
    plain = C.encode_jpeg(img, quality=92)
    assert C.exif_orientation(plain) is None
    assert np.array_equal(
        C.decode_jpeg(plain[:2] + C.encode_exif_app1(6) + plain[2:]),
        C.decode_jpeg(plain),
    )
    # TIFF tag 274 reads through the same walk; lossless -> exact undo
    t = C.encode_tiff(
        np.ascontiguousarray(np.transpose(img, (1, 0, 2))[::-1]),
        orientation=6,
    )
    assert C.exif_orientation(t) == 6
    assert np.array_equal(C.apply_exif_orientation(C.decode_tiff(t), 6), img)
    # hostile: truncated APP1 is advisory -> None, never an error
    assert C.exif_orientation(plain[:2] + C.encode_exif_app1(6)[:8] + plain[2:]) is None


def test_exif_rotated_copy_pairs_with_upright(spark):
    """THE corpus-scale point: a camera-rotated JPEG (stored sideways,
    orientation 6) and its upright re-export land at dHash distance 0
    through media_near_dup_pairs, and extract_image_features reports
    the DISPLAY geometry for both."""
    import numpy as np

    from pg2kinesis_spark.functions import codecs as C
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_image_features,
        media_near_dup_pairs,
    )

    x = np.linspace(0, 255, 40, dtype=np.uint8)
    img = np.stack(np.meshgrid(x, x[:24])[::-1] + [np.outer(x[:24], x[::-1][:40]) // 255],
                   axis=-1).astype(np.uint8)  # 24x40 smooth figure
    upright = C.encode_jpeg(img, quality=92)
    sideways = C.encode_jpeg(
        np.ascontiguousarray(np.transpose(img, (1, 0, 2))[::-1]), quality=92
    )
    rotated = sideways[:2] + C.encode_exif_app1(6) + sideways[2:]
    rng = np.random.RandomState(7)
    other = C.encode_jpeg(
        rng.randint(0, 256, (24, 40, 3), dtype=np.uint8), quality=92
    )
    rows = [
        (0, bytearray(upright), ("image/jpeg", len(upright), "m://a.jpg")),
        (1, bytearray(rotated), ("image/jpeg", len(rotated), "m://b.jpg")),
        (2, bytearray(other), ("image/jpeg", len(other), "m://c.jpg")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in extract_image_features(media).collect()}
    assert (feats[1]["width"], feats[1]["height"]) == (40, 24)  # display dims
    assert (feats[0]["width"], feats[0]["height"]) == (40, 24)
    pairs = media_near_dup_pairs(media, max_hamming=2, signature="dhash")
    got = {(r["media_id1"], r["media_id2"]) for r in pairs.collect()}
    assert (0, 1) in got and not any(2 in p for p in got)


def test_exif_orientation_png_exif_chunk():
    """PNG carries the same TIFF blob in an eXIf chunk (PNG 1.2
    extension) — a phone photo re-exported as PNG keeps pairing."""
    import struct
    import zlib

    import numpy as np

    from pg2kinesis_spark.functions import codecs as C

    img = np.random.RandomState(3).randint(0, 256, (10, 14, 3), dtype=np.uint8)
    png = C.encode_png(np.ascontiguousarray(np.transpose(img, (1, 0, 2))[::-1]))
    tiff = C.encode_exif_app1(6)[10:]  # strip marker+len+Exif\0\0 -> TIFF blob
    chunk = struct.pack(">I", len(tiff)) + b"eXIf" + tiff
    chunk += struct.pack(">I", zlib.crc32(b"eXIf" + tiff))
    # insert after IHDR (8-byte sig + 25-byte IHDR chunk)
    tagged = png[:33] + chunk + png[33:]
    assert C.exif_orientation(tagged) == 6
    assert np.array_equal(
        C.apply_exif_orientation(C.decode_png(tagged), 6), img
    )
    assert C.exif_orientation(png) is None


# --- 12-bit extended sequential (SOF1) ------------------------------------


def test_jpeg12_solid_gray_exact():
    """A solid 12-bit plate decodes to exactly its top-8-bit value
    (DC-only blocks quantize losslessly at q95)."""
    from pg2kinesis_spark.functions.codecs import decode_jpeg, encode_jpeg_ext12

    for val in (0, 77, 1234, 4095):
        img = np.full((16, 24), val, dtype=np.uint16)
        dec = decode_jpeg(encode_jpeg_ext12(img, quality=95))
        assert dec.shape == (16, 24, 1) and dec.dtype == np.uint8
        assert int(np.abs(dec[:, :, 0].astype(int) - (val >> 4)).max()) <= 1


def test_jpeg12_gradient_and_rgb_tolerance():
    from pg2kinesis_spark.functions.codecs import decode_jpeg, encode_jpeg_ext12

    g = np.add.outer(np.arange(17) * 120, np.arange(13) * 60).astype(np.uint16) % 4096
    dec = decode_jpeg(encode_jpeg_ext12(g, quality=95))
    assert dec.shape == (17, 13, 1)
    # compare in the reduced top-8-bit domain (the decoder's contract)
    assert np.abs(dec[:, :, 0].astype(int) - (g >> 4).astype(int)).max() <= 3

    from pg2kinesis_spark.functions.codecs import resize_nearest

    rng = np.random.RandomState(7)
    base = rng.randint(480, 3616, (3, 4, 3)).astype(np.uint16)
    img = resize_nearest(base, 32, 24)  # the _smooth_img shape, 12-bit domain
    dec3 = decode_jpeg(encode_jpeg_ext12(img, quality=95))
    err = np.abs(dec3.astype(int) - (img >> 4).astype(int))
    assert err.max() <= 8 and err.mean() <= 2.0


def test_jpeg12_matches_8bit_twin_at_dhash_level():
    """The SAME picture carried at 12-bit and 8-bit precision lands on
    the same perceptual hash — deep scans dedup against web copies."""
    from pg2kinesis_spark.functions.codecs import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_ext12,
        resize_nearest,
    )
    from pg2kinesis_spark.functions.multimodal import _dhash_image

    img8 = _smooth_img(32, 32, seed=5)
    img12 = (img8.astype(np.uint16) << 4) | (img8.astype(np.uint16) >> 4)
    d8 = decode_jpeg(encode_jpeg(img8, quality=95))
    d12 = decode_jpeg(encode_jpeg_ext12(img12, quality=95))
    assert _dhash_image(d8, resize_nearest) == _dhash_image(d12, resize_nearest)
    assert np.abs(d8.astype(int) - d12.astype(int)).mean() <= 1.5


def test_jpeg12_refusals_and_bounds():
    from pg2kinesis_spark.functions.codecs import decode_jpeg, encode_jpeg_ext12

    img = np.full((8, 8), 100, dtype=np.uint16)
    data = bytearray(encode_jpeg_ext12(img))
    i = data.find(b"\xff\xc1")
    # 12-bit baseline SOF0 is malformed per T.81
    data[i + 1] = 0xC0
    with pytest.raises(ValueError, match="baseline SOF0"):
        decode_jpeg(bytes(data))
    # other precisions still refuse loudly
    data[i + 1] = 0xC1
    data[i + 4] = 16
    with pytest.raises(NotImplementedError, match="precision 16"):
        decode_jpeg(bytes(data))
    # encoder guards
    with pytest.raises(ValueError, match="0..4095"):
        encode_jpeg_ext12(np.full((8, 8), 5000, dtype=np.uint16))
    with pytest.raises(ValueError, match="channels"):
        encode_jpeg_ext12(np.zeros((8, 8, 2), dtype=np.uint16))
    # truncated entropy stream still raises, not garbage pixels
    whole = bytes(encode_jpeg_ext12(np.arange(4096).reshape(64, 64).astype(np.uint16)))
    with pytest.raises(ValueError):
        decode_jpeg(whole[: len(whole) // 2])


# --- pHash (DCT perceptual hash, round 9) ----------------------------------


def test_phash_properties_and_spark_pairing(spark):
    """pHash: scale-invariant (2x nearest upscale -> hamming 0),
    brightness-shift-invariant (+20 shifts only the DC term, which is
    excluded, and the median threshold), noise-tolerant where dHash
    flips bits, far apart on unrelated images; rides the same
    media_dhash/pair-search machinery under algo='phash'."""
    from pg2kinesis_spark.functions.codecs import encode_png, resize_nearest
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        _dhash_image,
        _phash_image,
        media_dhash,
        media_near_dup_pairs,
    )

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    rng = np.random.RandomState(9)
    # clip-safe range: +20 brightness and +/-12 noise stay in 0..255,
    # so those transforms are EXACTLY what they claim (no saturation)
    base = resize_nearest(
        rng.randint(30, 206, (8, 8, 3)).astype(np.uint8), 64, 64
    )
    p0 = _phash_image(base, resize_nearest)
    up = np.repeat(np.repeat(base, 2, 0), 2, 1)
    # nearest-neighbor index mapping may pick a different source pixel
    # at block boundaries between the two scales — a few bits, never
    # the ~32 of unrelated content
    assert ham(p0, _phash_image(up, resize_nearest)) <= 3
    bright = np.clip(base.astype(int) + 20, 0, 255).astype(np.uint8)
    assert ham(p0, _phash_image(bright, resize_nearest)) == 0
    noisy = np.clip(
        base.astype(int) + rng.randint(-12, 13, base.shape), 0, 255
    ).astype(np.uint8)
    assert ham(p0, _phash_image(noisy, resize_nearest)) <= ham(
        _dhash_image(base, resize_nearest), _dhash_image(noisy, resize_nearest)
    )
    other = resize_nearest(rng.randint(0, 256, (8, 8, 3)).astype(np.uint8), 64, 64)
    assert ham(p0, _phash_image(other, resize_nearest)) > 16

    media = spark.createDataFrame(
        [
            (i, bytearray(encode_png(img)), ("image/png", 0, f"p{i}"))
            for i, img in enumerate([base, up, other])
        ],
        MEDIA_SCHEMA,
    )
    hashes = {r["media_id"]: r["dhash"] for r in media_dhash(media, algo="phash").collect()}
    assert ham(hashes[0], hashes[1]) <= 3 < ham(hashes[0], hashes[2])
    pairs = {
        tuple(sorted((r["media_id1"], r["media_id2"])))
        for r in media_near_dup_pairs(media, signature="phash").collect()
    }
    assert pairs == {(0, 1)}
    with pytest.raises(ValueError, match="algo"):
        media_dhash(media, algo="ahash")
