"""VP8L lossless WebP decode (functions/vp8l.py, round 10): lossless
round trips through the real-stream encoder twin across every decode
path (literals, LZ77 runs, color cache, simple + full prefix codes
with 16/17/18 repeats, subtract-green, all 14 predictor modes,
delta-coded palettes at every bundling width), the GENERATED
120-entry near-distance map pinned against known entries, strict
prefix-code validation (over/under-subscription), the WEBP≡PNG dHash
identity (the TIFF precedent), and the corruption hammer. The PIL
equality oracle in tests/test_bmp.py::test_webp_pil_seam_upgrades_
refusal doubles as the external-encoder proof where PIL exists."""

from __future__ import annotations

import numpy as np
import pytest

from pg2kinesis_spark.functions import codecs as C
from pg2kinesis_spark.functions import vp8l as V


def _rgb(seed=3, h=13, w=17):
    return np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)


def test_round_trip_plain_and_transforms():
    img = _rgb()
    for kw in (
        {},
        {"subtract_green": True},
        {"cache_bits": 6},
        {"subtract_green": True, "cache_bits": 4},
    ):
        out = V.decode_vp8l(V.encode_vp8l(img, **kw))
        assert out.shape == img.shape and np.array_equal(out, img), kw


def test_round_trip_all_predictor_modes():
    img = _rgb(5, 19, 21)
    for mode in range(14):
        out = V.decode_vp8l(V.encode_vp8l(img, predictor=mode))
        assert np.array_equal(out, img), f"predictor {mode}"
    # predictor composes with subtract-green (reverse-order inverse)
    out = V.decode_vp8l(V.encode_vp8l(img, predictor=11, subtract_green=True))
    assert np.array_equal(out, img)


def test_round_trip_palette_every_bundling_width():
    rng = np.random.default_rng(11)
    for n in (2, 3, 4, 9, 16, 17, 200, 256):
        cols = rng.integers(0, 256, (n, 3), dtype=np.uint8)
        idx = rng.integers(0, n, (11, 23))
        img = cols[idx]
        out = V.decode_vp8l(V.encode_vp8l(img, palette=True))
        assert np.array_equal(out, img), f"palette {n}"


def test_round_trip_alpha_and_gray():
    rng = np.random.default_rng(13)
    rgba = rng.integers(0, 256, (9, 9, 4), dtype=np.uint8)
    out = V.decode_vp8l(V.encode_vp8l(rgba))
    assert out.shape == (9, 9, 4) and np.array_equal(out, rgba)
    # opaque alpha folds to 3 channels
    rgba[:, :, 3] = 255
    out = V.decode_vp8l(V.encode_vp8l(rgba))
    assert out.shape == (9, 9, 3)
    gray = rng.integers(0, 256, (7, 5), dtype=np.uint8)
    out = V.decode_vp8l(V.encode_vp8l(gray))
    assert np.array_equal(out[:, :, 0], gray) and out.shape == (7, 5, 3)


def test_lz77_runs_and_cache_hits():
    flat = np.full((32, 40, 3), 77, dtype=np.uint8)
    flat[5:9, :] = (1, 2, 3)
    blob = V.encode_vp8l(flat)
    assert len(blob) < 60  # runs actually engaged
    assert np.array_equal(V.decode_vp8l(blob), flat)
    # alternating pixels: cache symbols engage (no runs >= 4)
    alt = np.zeros((8, 32, 3), dtype=np.uint8)
    alt[:, 1::2] = (200, 10, 30)
    blob_nc = V.encode_vp8l(alt, use_runs=False)
    blob_cc = V.encode_vp8l(alt, use_runs=False, cache_bits=8)
    assert len(blob_cc) < len(blob_nc)  # cache really fired
    assert np.array_equal(V.decode_vp8l(blob_cc), alt)


def test_distance_map_is_the_spec_neighborhood():
    """The map is GENERATED (sorted neighborhood), not transcribed —
    pin it against known entries and its defining invariants."""
    m = V._DISTANCE_MAP
    assert len(m) == 120 and len(set(m)) == 120
    # the spec's first eight and last two entries
    assert m[:8] == (
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    )
    assert m[118] == (8, 6) and m[119] == (8, 7)
    # ordered by distance, every pair in the window
    d2 = [x * x + y * y for x, y in m]
    assert d2 == sorted(d2)
    assert all(0 <= y <= 7 and -7 <= x <= 8 for x, y in m)
    assert all(y > 0 or x >= 1 for x, y in m)
    # plane mapping: code 1 -> one row up (dist = width), >120 direct
    assert V._plane_to_distance(1, 100) == 100
    assert V._plane_to_distance(2, 100) == 1
    assert V._plane_to_distance(121, 100) == 1
    assert V._plane_to_distance(300, 100) == 180


def test_prefix_code_validation_is_strict():
    """Real-world robustness: over- and under-subscribed codes raise
    instead of decoding garbage; the 15-bit walk is bounded."""
    with pytest.raises(ValueError, match="subscribed"):
        V._Prefix([1, 1, 1])  # over
    with pytest.raises(ValueError, match="subscribed"):
        V._Prefix([2, 2, 2])  # under
    with pytest.raises(ValueError, match="no symbols"):
        V._Prefix([0, 0])
    p = V._Prefix([1, 2, 2])
    br = V._Bits(bytes([0b00000110]))  # LSB-first: 0,1,1 -> syms 0,2
    assert p.read(br) == 0
    assert p.read(br) == 2
    # trivial single-symbol code consumes zero bits
    t = V._Prefix([0, 0, 5, 0])
    assert t.read(V._Bits(b"")) == 2


def test_decode_rejects_hostile_structure():
    img = _rgb(17, 6, 6)
    blob = bytearray(V.encode_vp8l(img))
    # bad signature
    with pytest.raises(ValueError, match="signature"):
        V.decode_vp8l(b"\x30" + bytes(blob[1:]))
    # nonzero version bits
    bad = bytearray(blob)
    bad[4] |= 0xE0
    with pytest.raises(ValueError, match="version"):
        V.decode_vp8l(bytes(bad))
    # truncation always raises, never hangs or garbles silently
    for cut in (5, 7, len(blob) // 2):
        with pytest.raises(ValueError):
            V.decode_vp8l(bytes(blob[:cut]))


def test_webp_riff_front_door_and_dhash_identity(spark):
    """The 'Done' bar from VERDICT r10 task 4: lossless WebP joins the
    dHash identity class — a WEBP and the PNG of the same pixels pair
    at hamming 0 through the standard media walk."""
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        media_dhash,
    )

    img = _rgb(29, 24, 24)
    webp = V.encode_webp_lossless(img, subtract_green=True, cache_bits=5)
    png = C.encode_png(img)
    assert np.array_equal(C.decode_webp(webp), img)
    assert np.array_equal(C.decode_image(webp), img)
    rows = [
        (0, bytearray(webp), ("image/webp", len(webp), "m://a.webp")),
        (1, bytearray(png), ("image/png", len(png), "m://a.png")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    sigs = {r["media_id"]: r["dhash"] for r in media_dhash(media).collect()}
    assert sigs[0] is not None and sigs[0] == sigs[1]  # hamming 0


def test_lossy_keeps_refusing_and_empty_anmf_is_loud():
    with pytest.raises(NotImplementedError, match="VP8"):
        C.decode_webp(C.encode_webp_skeleton(9, 9, lossless=False))
    img = _rgb(31, 8, 8)
    anim = bytearray(V.encode_webp_lossless(img))
    # splice a dataless ANMF chunk: animated lossless now DECODES
    # (round 10), so the empty frame must fail loudly, not refuse
    anmf = b"ANMF" + (16).to_bytes(4, "little") + bytes(16)
    anim = bytes(anim[:12]) + anmf + bytes(anim[12:])
    anim = b"RIFF" + (len(anim) - 8 + len(anmf)).to_bytes(4, "little") + anim[8:]
    with pytest.raises(ValueError, match="without an image chunk"):
        C.decode_webp(anim)


def test_mode13_truncates_toward_zero_like_c():
    """ADVICE r10: ClampAddSubtractHalf divides by 2 with C truncation
    toward zero, not Python floor — for ave < TL with odd difference
    the two differ by one. Pin the module against an independent
    transcription of the spec formula over every channel value pair
    (no libwebp in the container, so the spec math IS the oracle)."""
    for a in range(0, 256, 3):
        for b in range(0, 256, 5):
            ave = ((a ^ b) >> 1) + (a & b)  # nothing to average here:
            # feed ave directly by picking l = t = a so avg2(l, t) == a
            pix_l = a << 8
            pix_t = a << 8
            pix_tl = b << 8
            got = V._predict(13, pix_l, pix_t, 0, pix_tl)
            d = a - b
            v = a + int(d / 2.0)  # trunc toward zero
            want = max(0, min(255, v))
            assert (got >> 8) & 0xFF == want, (a, b)
    # a decode-level round trip stressing odd negative differences
    img = np.zeros((6, 8, 3), dtype=np.uint8)
    img[::2] = 255
    img[:, ::3, 1] = 7
    assert np.array_equal(V.decode_vp8l(V.encode_vp8l(img, predictor=13)), img)


def test_decode_cost_bounds():
    """ADVICE r10: the bytes-to-CPU asymmetry is bounded. Giant LZ77
    runs fill vectorized (fast), trivial-code streams hit constant
    fast paths, and the predictor pass refuses above its pixel cap."""
    import time

    # 4M-pixel constant image round-trips via the vectorized paths
    big = np.full((2048, 2048, 3), 9, dtype=np.uint8)
    blob = V.encode_vp8l(big)
    assert len(blob) < 4096
    t0 = time.monotonic()
    out = V.decode_vp8l(blob)
    # generous wall bound: proves the vectorized path (the interpreted
    # per-pixel loop took minutes), with slack for a contended box
    assert time.monotonic() - t0 < 10.0
    assert out.shape == (2048, 2048, 3) and (out == 9).all()
    # the vectorized backref copy keeps exact LZ77 repeat semantics
    # (dist < length tiles the pattern; numpy memmove would not)
    rng = np.random.default_rng(3)
    for dist, length in ((1, 9), (3, 10), (5, 5), (4, 17), (7, 3)):
        buf = rng.integers(0, 2**32, 40, dtype=np.uint32)
        ref = buf.copy()
        pos = 12
        for i in range(length):  # the spec's per-pixel definition
            ref[pos + i] = ref[pos + i - dist]
        V._backref_copy(buf, pos, dist, length)
        assert np.array_equal(buf, ref), (dist, length)
    pat = np.tile(
        np.arange(30, dtype=np.uint8).reshape(1, 10, 3), (12, 40, 1)
    )
    assert np.array_equal(V.decode_vp8l(V.encode_vp8l(pat)), pat)
    # the predictor interpreted-cost cap counts SLOW-mode pixels only
    # (ADVICE r11): prev-row/left-sum modes vectorize at any size; the
    # sequential modes refuse once past the env-tunable cap
    import os

    img2 = _rgb(7, 40, 50)
    fast = V.encode_vp8l(img2, predictor=2)
    slow = V.encode_vp8l(img2, predictor=12)
    os.environ["SPARK_GRAFT_VP8L_PRED_CAP"] = "1000"  # 39*49 slow px
    try:
        assert np.array_equal(V.decode_vp8l(fast), img2)
        with pytest.raises(ValueError, match="pixel cap"):
            V.decode_vp8l(slow)
    finally:
        del os.environ["SPARK_GRAFT_VP8L_PRED_CAP"]
    assert np.array_equal(V.decode_vp8l(slow), img2)  # default cap


def test_trivial_cache_symbol_under_meta_image():
    """ADVICE r11 edge: a meta-image group whose green code is a
    trivial (0-bit) CACHE symbol progresses without consuming payload
    bits. Pinned fate: it DECODES via the span fast path and the
    zero-bit progress budget — not a false quarantine."""
    w, h = 8, 4
    pix = (255 << 24) | (7 << 16) | (42 << 8) | 9  # ARGB of group 0
    slot = ((V._CACHE_MULT * pix) & 0xFFFFFFFF) >> 31  # cache_bits=1

    bw = V._BitWriter()
    bw.bits(0, 1)  # no transforms
    bw.bits(1, 1)
    bw.bits(1, 4)  # color cache, 1 bit
    bw.bits(1, 1)
    bw.bits(0, 3)  # meta prefix codes, meta_bits = 2 -> mw=2 mh=1

    def simple_trivial(sym):
        bw.bits(1, 1)  # simple code
        bw.bits(0, 1)  # one symbol
        if sym <= 1:
            bw.bits(0, 1)
            bw.bits(sym, 1)
        else:
            bw.bits(1, 1)
            bw.bits(sym, 8)

    # meta image (2x1, its own code group): green over {0,1}, rest 0
    bw.bits(0, 1)  # no cache in the meta image
    bw.bits(1, 1)  # green: simple, two symbols
    bw.bits(1, 1)
    bw.bits(0, 1)
    bw.bits(0, 1)  # sym0 = 0 (1-bit form)
    bw.bits(1, 8)  # sym1 = 1
    for s in (0, 0, 0, 0):  # red/blue/alpha/dist trivial 0
        simple_trivial(s)
    bw.bits(0, 1)  # meta pixel 0: green sym 0 -> group 0
    bw.bits(1, 1)  # meta pixel 1: green sym 1 -> group 1

    # group 0: all-trivial LITERAL (fills its cell span, seeds cache)
    for s in (42, 7, 9, 255, 0):  # green/red/blue/alpha/dist
        simple_trivial(s)
    # group 1: green = trivial big symbol 280+slot (cache lookup), via
    # the full code-length form (simple form caps symbols at 255):
    # cl code over {1, 18}, two 18-repeats of zeros, then one length-1
    sym = 256 + 24 + slot
    bw.bits(0, 1)  # full form
    bw.bits(0, 4)  # num_codes = 4 -> cl symbols 17, 18, 0, 1
    for ln in (0, 1, 0, 1):  # lengths for 17, 18, 0, 1
        bw.bits(ln, 3)
    chunks, r = [], sym
    while r:  # 18-repeat runs of zeros, each 11..138
        take = min(138, r)
        if r - take and r - take < 11:
            take = r - 11
        chunks.append(take)
        r -= take
    bw.bits(1, 1)  # length-capped read
    bw.bits(0, 3)  # length_nbits = 2
    bw.bits(len(chunks) - 1, 2)  # max_symbol = 2 + n = reads allowed
    for take in chunks:
        assert 11 <= take <= 138
        bw.code(1, 1)  # cl symbol 18
        bw.bits(take - 11, 7)
    bw.code(0, 1)  # cl symbol 1 -> length 1 at `sym`
    for s in (0, 0, 0, 0):  # red/blue/alpha/dist (never read)
        simple_trivial(s)
    # no payload bits at all: every event is a 0-bit span fill

    head = ((w - 1) | ((h - 1) << 14)).to_bytes(4, "little")
    out = V.decode_vp8l(bytes([0x2F]) + head + bw.done())
    assert out.shape == (h, w, 3)
    assert (out == np.array([7, 42, 9], dtype=np.uint8)).all()


def test_fuzz_vp8l_walk():
    from tests.test_codec_fuzz import _hammer

    img = _rgb(41, 10, 12)
    corpus = [
        V.encode_webp_lossless(img),
        V.encode_webp_lossless(img, subtract_green=True, cache_bits=4),
        V.encode_webp_lossless(img, predictor=12),
        V.encode_webp_lossless(
            np.repeat(np.arange(4, dtype=np.uint8)[None, :, None], 3, 2)
            .repeat(6, 0)
            .repeat(5, 1),
            palette=True,
        ),
    ]
    _hammer(C.decode_webp, corpus, seed=55)


# --- animated WebP (round 10: ANMF + VP8L through the video tier) ----------

def test_webp_anim_round_trip_and_info():
    rng = np.random.default_rng(61)
    f0 = rng.integers(0, 256, (10, 12, 3), dtype=np.uint8)
    f1 = rng.integers(0, 256, (10, 12, 3), dtype=np.uint8)
    blob = C.encode_webp_anim([f0, f1], durations_ms=[40, 60], loop=3)
    frames = C.decode_webp_frames(blob)
    assert len(frames) == 2
    assert np.array_equal(frames[0][:, :, :3], f0)
    assert np.array_equal(frames[1][:, :, :3], f1)
    info = C.webp_anim_info(blob)
    assert (info["n_frames"], info["n_plays"]) == (2, 3)
    assert info["duration_ms"] == 100.0 and info["fps"] == 20.0
    wi = C.webp_info(blob)
    assert wi["animated"] and wi["format"] == "lossless"
    vi = C.video_info(blob)
    assert (vi["n_frames"], vi["width"], vi["height"]) == (2, 12, 10)
    # still-image consumers get the first composed frame (GIF rule)
    assert np.array_equal(C.decode_webp(blob)[:, :, :3], f0)
    # sampled ordinals: only the asked-for canvases are copied
    only1 = C.decode_webp_frames(blob, frame_indices={1})
    assert len(only1) == 1 and np.array_equal(only1[0], frames[1])


def test_webp_anim_dispose_blend_hand_math():
    """Alpha-over and dispose-to-background recomputed from their
    definitions: fg(200,0,0,a=128) over bg(50,50,50,255) must read
    (125,25,25,255) at the overlap; after dispose=1 the region reverts
    to the ANIM background."""
    base = np.zeros((8, 8, 4), dtype=np.uint8)
    base[:, :, :3] = 50
    base[:, :, 3] = 255
    patch = np.zeros((4, 4, 4), dtype=np.uint8)
    patch[:, :, 0] = 200
    patch[:, :, 3] = 128
    full = np.full((8, 8, 4), 9, dtype=np.uint8)
    blob = C.encode_webp_anim(
        [base, patch, full],
        durations_ms=[50, 50, 50],
        offsets=[(0, 0), (2, 2), (0, 0)],
        dispose=[0, 1, 0],
        blend=[1, 0, 1],
        canvas=(8, 8),
    )
    fr = C.decode_webp_frames(blob)
    # frame 1: outside the patch the base shows through; inside, the
    # over operator (straight alpha): c = (200*128 + 50*255*(1-128/255))/255
    assert fr[1][0, 0].tolist() == [50, 50, 50, 255]
    fa = 128 / 255.0
    want_r = round((200 * fa + 50 * 1.0 * (1 - fa)))
    assert abs(int(fr[1][3, 3, 0]) - want_r) <= 1
    assert fr[1][3, 3, 3] == 255
    # frame 2 replaced the whole canvas (blend=1) AFTER frame 1's
    # region disposed to the (transparent) background
    assert fr[2][3, 3].tolist() == [9, 9, 9, 9]


def test_webp_anim_refusals():
    base = _rgb(67, 8, 8)
    blob = bytearray(C.encode_webp_anim([base, base]))
    # stomp the first ANMF's sub-chunk fourcc to VP8 (lossy subframe)
    at = bytes(blob).index(b"ANMF") + 8 + 16
    assert bytes(blob[at : at + 4]) == b"VP8L"
    blob[at : at + 4] = b"VP8 "
    with pytest.raises(NotImplementedError, match="lossy VP8"):
        C.decode_webp_frames(bytes(blob))
    # frame region outside the canvas
    bad = bytearray(C.encode_webp_anim([base], offsets=[(0, 0)], canvas=(8, 8)))
    i = bytes(bad).index(b"ANMF") + 8
    bad[i : i + 3] = (6).to_bytes(3, "little")  # x = 12 > canvas
    with pytest.raises(ValueError, match="outside the canvas"):
        C.decode_webp_frames(bytes(bad))
    with pytest.raises(ValueError, match="must be even"):
        C.encode_webp_anim([base], offsets=[(1, 0)])


def test_fuzz_webp_anim_walk():
    from tests.test_codec_fuzz import _hammer

    img = _rgb(73, 8, 10)
    corpus = [
        C.encode_webp_anim([img, img[::-1]], durations_ms=[30, 70]),
        C.encode_webp_anim([img], dispose=1, blend=0),
    ]
    _hammer(lambda b: C.decode_webp_frames(b, frame_indices={0, 1}), corpus, seed=91)
