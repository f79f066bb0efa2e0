"""APNG: hand-built chunk streams pin the fcTL/fdAT sequence rules and
the dispose/blend composition semantics (expected canvases recomputed
in-test from the spec's over-operator definition); the encoder twin
round-trips losslessly and powers the video-tier integration."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from pg2kinesis_spark.functions import codecs as C


def _rgba(seed, h=10, w=14, n=3):
    rng = np.random.default_rng(seed)
    return [rng.integers(0, 256, (h, w, 4), dtype=np.uint8) for _ in range(n)]


def _idat_payload(img: np.ndarray) -> bytes:
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(img.shape[0]))
    return zlib.compress(raw)


def test_roundtrip_and_default_image():
    frames = _rgba(4)
    ap = C.encode_apng(frames, delay_cs=5)
    assert C.is_apng(ap) and C.is_png(ap)
    assert not C.is_apng(C.encode_png(frames[0]))
    dec = C.decode_apng_frames(ap)
    assert all(np.array_equal(d, f) for d, f in zip(dec, frames))
    # a still-image consumer sees the spec's default image (frame 0)
    assert np.array_equal(C.decode_image(ap), frames[0])
    info = C.apng_info(ap)
    assert info["n_frames"] == 3 and info["fps"] == pytest.approx(20.0)
    assert info["duration_ms"] == pytest.approx(150.0)
    assert C.video_info(ap)["n_frames"] == 3


def _hand_apng(frame_specs, w=2, h=2):
    """Build an APNG from (region_rgba, x, y, dispose, blend) tuples."""
    out = bytearray(C.PNG_SIG)
    out += C._png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
    out += C._png_chunk(b"acTL", struct.pack(">II", len(frame_specs), 0))
    seq = 0
    for i, (region, x, y, dispose, blend) in enumerate(frame_specs):
        rh, rw = region.shape[:2]
        fctl = struct.pack(">IIIIIHHBB", seq, rw, rh, x, y, 1, 10, dispose, blend)
        out += C._png_chunk(b"fcTL", fctl)
        seq += 1
        payload = _idat_payload(region)
        if i == 0:
            out += C._png_chunk(b"IDAT", payload)
        else:
            out += C._png_chunk(b"fdAT", struct.pack(">I", seq) + payload)
            seq += 1
    out += C._png_chunk(b"IEND", b"")
    return bytes(out)


def test_dispose_and_blend_semantics_hand_built():
    red = np.zeros((2, 2, 4), np.uint8)
    red[:, :] = (200, 0, 0, 255)
    blue = np.zeros((1, 1, 4), np.uint8)
    blue[0, 0] = (0, 0, 250, 255)
    green_half = np.zeros((1, 1, 4), np.uint8)
    green_half[0, 0] = (0, 200, 0, 128)
    ap = _hand_apng(
        [
            (red, 0, 0, 0, 0),          # full canvas, leave
            (blue, 1, 1, 2, 0),         # region replace, dispose PREVIOUS
            (green_half, 0, 0, 0, 1),   # alpha-over at (0,0)
        ]
    )
    f0, f1, f2 = C.decode_apng_frames(ap)
    assert (f0 == red).all()
    want1 = red.copy()
    want1[1, 1] = (0, 0, 250, 255)
    assert (f1 == want1).all()
    # frame 2 composes on the REVERTED canvas (dispose 2 undid blue);
    # expected over() recomputed here from the definition
    sa, da = 128 / 255, 1.0
    oa = sa + da * (1 - sa)
    rgb = (np.array([0, 200, 0]) * sa + np.array([200, 0, 0]) * da * (1 - sa)) / oa
    want2 = red.copy()
    want2[0, 0] = np.round(np.append(rgb, oa * 255)).astype(np.uint8)
    assert (f2 == want2).all(), (f2[0, 0], want2[0, 0])
    # dispose 1 (background): the region must read transparent next
    ap = _hand_apng([(red, 0, 0, 1, 0), (blue, 1, 1, 0, 1)])
    _g0, g1 = C.decode_apng_frames(ap)
    assert (g1[0, 0] == 0).all()  # cleared by frame 0's dispose
    assert tuple(g1[1, 1]) == (0, 0, 250, 255)


def test_sequence_and_bounds_violations():
    frames = _rgba(5, n=2)
    ap = bytearray(C.encode_apng(frames))
    # stomp the first fdAT's sequence number
    i = ap.find(b"fdAT")
    ap[i + 4 : i + 8] = struct.pack(">I", 9)
    with pytest.raises(ValueError, match="sequence"):
        C.decode_apng_frames(bytes(ap))
    # region outside the canvas
    big = np.zeros((3, 3, 4), np.uint8)
    bad = _hand_apng([(big, 0, 0, 0, 0)], w=2, h=2)
    with pytest.raises(ValueError, match="region outside"):
        C.decode_apng_frames(bad)
    # acTL frame-count mismatch
    ap2 = bytearray(C.encode_apng(frames))
    j = ap2.find(b"acTL")
    ap2[j + 4 : j + 8] = struct.pack(">I", 7)
    with pytest.raises(ValueError, match="declares"):
        C.apng_info(bytes(ap2))


def test_video_tier_integration(spark):
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_video_features,
    )

    base = [
        C.resize_nearest(
            np.random.default_rng(s).integers(30, 226, (3, 4, 3), dtype=np.uint8),
            14, 10,
        )
        for s in (1, 2, 3)
    ]
    a = C.encode_apng(base)
    b = C.encode_gif_frames(base)  # the SAME clip as a GIF
    other = C.encode_apng([255 - f for f in base])
    media = spark.createDataFrame(
        [(i, bytearray(d), ("x/x", len(d), f"v{i}")) for i, d in enumerate([a, b, other])],
        MEDIA_SCHEMA,
    )
    feats = {r["media_id"]: r for r in extract_video_features(media).collect()}
    assert feats[0]["n_frames"] == 3 and feats[0]["width"] == 14
