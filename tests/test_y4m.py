"""Y4M / YUV4MPEG2: the uncompressed video interchange format. The
decode side is pinned by HAND-PACKED streams whose expected RGB is
recomputed in the test from the BT.601 studio-swing definition
(Kr=0.299, Kb=0.114, 219/224 excursions) — independent of the module's
derivation — plus header-arithmetic truths and the pay-for-what-you-
keep sampling contract; the encoder twin round-trips within chroma
tolerance and powers the video-tier integration tests."""

from __future__ import annotations

import numpy as np
import pytest

from pg2kinesis_spark.functions import codecs as C


def _smooth_frames(n=4, h=12, w=16, seed=3):
    rng = np.random.default_rng(seed)
    return [
        C.resize_nearest(rng.integers(30, 226, (3, 4, 3), dtype=np.uint8), w, h)
        for _ in range(n)
    ]


def test_hand_packed_stream_matches_bt601_definition():
    w, h = 4, 2
    yp = np.arange(16, 16 + w * h, dtype=np.uint8).reshape(h, w)
    cbp = np.full((h, w), 100, np.uint8)
    crp = np.full((h, w), 200, np.uint8)
    data = (
        f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode()
        + b"FRAME\n" + yp.tobytes() + cbp.tobytes() + crp.tobytes()
    )
    dec = C.decode_y4m_frames(data)[0]
    yf = (yp.astype(float) - 16) * 255 / 219
    pb = (100.0 - 128) * 255 / 224
    pr = (200.0 - 128) * 255 / 224
    r = np.clip(np.round(yf + 1.402 * pr), 0, 255)
    b = np.clip(np.round(yf + 1.772 * pb), 0, 255)
    g = np.clip(np.round(yf - (0.299 / 0.587) * 1.402 * pr - (0.114 / 0.587) * 1.772 * pb), 0, 255)
    assert np.array_equal(dec[:, :, 0].astype(float), r)
    assert np.array_equal(dec[:, :, 1].astype(float), g)
    assert np.array_equal(dec[:, :, 2].astype(float), b)


def test_y4m_info_arithmetic_and_defaults():
    frames = _smooth_frames(5)
    info = C.y4m_info(C.encode_y4m(frames, rate=(30000, 1001)))
    assert info["n_frames"] == 5 and info["width"] == 16 and info["height"] == 12
    assert info["fps"] == pytest.approx(29.97, abs=0.01)
    assert info["duration_ms"] == pytest.approx(5 * 1001000 / 30000)
    # F defaults to 25:1 when absent (the format's convention)
    bare = b"YUV4MPEG2 W2 H2 Cmono\nFRAME\n" + bytes(4)
    assert C.y4m_info(bare)["fps"] == 25.0
    assert C.video_info(bare)["n_frames"] == 1


def test_roundtrip_tolerances_by_colorspace():
    frames = _smooth_frames()
    # C444: only quantization noise
    dec = C.decode_y4m_frames(C.encode_y4m(frames, colorspace="C444"))
    for d, f in zip(dec, frames):
        assert np.abs(d.astype(int) - f.astype(int)).max() <= 2
    # C420: chroma is 2x2-averaged; luma must survive closely
    dec = C.decode_y4m_frames(C.encode_y4m(frames, colorspace="C420jpeg"))
    luma = lambda a: 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
    for d, f in zip(dec, frames):
        assert np.abs(luma(d.astype(float)) - luma(f.astype(float))).mean() <= 2.0
    # Cmono: gray in, gray out (all three channels equal)
    gray = [np.repeat(f[:, :, :1], 3, axis=2) for f in frames]
    dec = C.decode_y4m_frames(C.encode_y4m(gray, colorspace="Cmono"))
    for d, f in zip(dec, gray):
        assert np.abs(d.astype(int) - f.astype(int)).max() <= 2
        assert np.array_equal(d[:, :, 0], d[:, :, 1])


def test_sampling_contract_and_refusals():
    frames = _smooth_frames(6)
    y4m = C.encode_y4m(frames)
    # sampled ordinals only; the walk stops after the last one, so a
    # TRUNCATED tail after the sampled range must not matter
    d = C.decode_y4m_frames(y4m, frame_indices={0, 2})
    assert len(d) == 2
    fsize = 16 * 12 * 3
    cut = y4m[: len(y4m) - fsize // 2]  # wound the final frame
    assert len(C.decode_y4m_frames(cut, frame_indices={0, 2})) == 2
    with pytest.raises(ValueError, match="truncated"):
        C.decode_y4m_frames(cut)
    with pytest.raises(NotImplementedError, match="colorspace"):
        C.y4m_info(b"YUV4MPEG2 W4 H2 C410\n")
    with pytest.raises(ValueError, match="divisible"):
        C.y4m_info(b"YUV4MPEG2 W3 H2 C420jpeg\n")
    with pytest.raises(ValueError, match="FRAME"):
        C.decode_y4m_frames(b"YUV4MPEG2 W2 H2 C444\nNOTAFRAME" + bytes(12))
    with pytest.raises(ValueError, match="out of bounds"):
        C.y4m_info(b"YUV4MPEG2 W99999 H99999 C444\n")


def test_video_tier_integration(spark):
    """Y4M rides the video-features walk."""
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_video_features,
    )

    frames = _smooth_frames(4)
    a = C.encode_y4m(frames, colorspace="C444")
    b = C.encode_y4m(frames, colorspace="C420jpeg")
    other = _smooth_frames(4, seed=99)
    c = C.encode_y4m(other)
    media = spark.createDataFrame(
        [(i, bytearray(d), ("video/x-yuv4mpegpipe", len(d), f"v{i}"))
         for i, d in enumerate([a, b, c])],
        MEDIA_SCHEMA,
    )
    feats = {r["media_id"]: r for r in extract_video_features(media).collect()}
    assert feats[0]["n_frames"] == 4 and feats[0]["width"] == 16


def test_video_scene_cuts(spark):
    """A constructed two-scene clip: the single hard cut is found at
    exactly the constructed boundary across three containers, and a
    one-scene clip reports no cuts."""
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        video_scene_cuts,
    )

    rng = np.random.default_rng(12)
    scene_a = rng.integers(100, 140, (12, 16, 3)).astype(np.uint8)
    scene_b = rng.integers(10, 40, (12, 16, 3)).astype(np.uint8)

    def jitter(base, k):
        out = base.astype(int) + int(k)  # tiny intra-scene motion
        return np.clip(out, 0, 255).astype(np.uint8)

    frames = [jitter(scene_a, i) for i in range(4)] + [
        jitter(scene_b, i) for i in range(4)
    ]
    clips = [
        C.encode_y4m(frames, colorspace="C444"),
        C.encode_apng(frames),
        C.encode_avi_mjpeg(frames, fps=25),
        C.encode_y4m([jitter(scene_a, i) for i in range(8)]),  # no cut
        b"garbage",
    ]
    media = spark.createDataFrame(
        [(i, bytearray(d), ("x/x", len(d), f"c{i}")) for i, d in enumerate(clips)],
        MEDIA_SCHEMA,
    )
    rows = video_scene_cuts(media, threshold=0.2).collect()
    cuts = {
        (r["media_id"], r["frame_idx"]) for r in rows if r["is_cut"]
    }
    assert cuts == {(0, 4), (1, 4), (2, 4)}
    errs = {r["media_id"]: r["decode_error"] for r in rows if r["decode_error"]}
    assert set(errs) == {4}
    # intra-scene scores stay tiny, the cut score is large
    by_clip = [r for r in rows if r["media_id"] == 0]
    assert all(r["score"] < 0.05 for r in by_clip if r["frame_idx"] != 4)
    assert next(r["score"] for r in by_clip if r["frame_idx"] == 4) > 0.25
