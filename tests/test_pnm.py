"""PNM (PBM/PGM/PPM): hand-packed spec-form headers (comments, ASCII
tokens, the single-whitespace raster boundary, P4's 1-means-black
packed rows, maxval scaling with exact .5 midpoints) plus lossless
round trips through the encoder twin across all six magics."""

from __future__ import annotations

import numpy as np
import pytest

from pg2kinesis_spark.functions import codecs as C


def _rgb(seed=2, h=9, w=13):
    return np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)


def test_all_six_magics_roundtrip_lossless():
    rgb = _rgb()
    gray = rgb[:, :, :1]
    bw = np.where(gray > 127, 255, 0).astype(np.uint8)
    assert np.array_equal(C.decode_pnm(C.encode_pnm(rgb)), rgb)                    # P6
    assert np.array_equal(C.decode_pnm(C.encode_pnm(rgb, binary=False)), rgb)      # P3
    assert np.array_equal(C.decode_pnm(C.encode_pnm(gray)), gray)                  # P5
    assert np.array_equal(C.decode_pnm(C.encode_pnm(gray, binary=False)), gray)    # P2
    assert np.array_equal(C.decode_pnm(C.encode_pnm(bw, maxval=1)), bw)            # P4
    assert np.array_equal(C.decode_pnm(C.encode_pnm(bw, maxval=1, binary=False)), bw)  # P1
    # wide maxvals survive the scale-up/scale-down round trip exactly
    assert np.array_equal(C.decode_pnm(C.encode_pnm(gray, maxval=65535)), gray)
    assert np.array_equal(C.decode_pnm(C.encode_pnm(gray, maxval=1000)), gray)


def test_hand_packed_headers_and_scaling():
    # comments between every token; maxval 100: 50 -> round-half-UP 128
    hand = b"P2 # c1\n# c2\n 2 # c3\n1\n100\n50 100\n"
    assert C.decode_pnm(hand)[0].tolist() == [[128], [255]]
    # P4: packed bits, 1 = BLACK, rows byte-aligned
    hand4 = b"P4\n# bits\n10 2\n" + bytes([0b10100000, 0b01000000, 0xFF, 0xC0])
    img = C.decode_pnm(hand4)
    assert img[0, :, 0].tolist() == [0, 255, 0, 255, 255, 255, 255, 255, 255, 0]
    assert img[1, :, 0].tolist() == [0] * 10
    # P3 ASCII with arbitrary whitespace runs
    assert C.decode_pnm(b"P3\n1 1\n255\n  1\n2\t3 ").tolist() == [[[1, 2, 3]]]
    # binary raster starts after EXACTLY one whitespace byte: a P5
    # whose first sample equals 0x0A must not be eaten as header
    assert C.decode_pnm(b"P5\n1 1\n255\n\n")[0, 0, 0] == 0x0A


def test_refusals_and_bounds():
    with pytest.raises(ValueError, match="exceeds maxval"):
        C.decode_pnm(b"P2\n1 1\n10\n99\n")
    with pytest.raises(ValueError, match="truncated"):
        C.decode_pnm(C.encode_pnm(_rgb())[:-5])
    with pytest.raises(ValueError, match="truncated"):
        C.decode_pnm(b"P6\n2 2")
    with pytest.raises(ValueError, match="out of bounds"):
        C.decode_pnm(b"P5\n99999 99999\n255\n")
    with pytest.raises(ValueError, match="bad PNM maxval"):
        C.decode_pnm(b"P5\n1 1\n0\n\x00")
    assert not C.is_pnm(b"P3x plain text, not an image")
    with pytest.raises(ValueError, match="0/255 gray"):
        C.encode_pnm(_rgb(), maxval=1)


def test_dispatch_dhash_identity_and_sniff():
    from pg2kinesis_spark.functions.multimodal import _dhash_image

    rgb = _rgb()
    via_pnm = C.decode_image(C.encode_pnm(rgb))
    via_png = C.decode_image(C.encode_png(rgb))
    assert np.array_equal(via_pnm, via_png)
    assert _dhash_image(via_pnm, C.resize_nearest) == _dhash_image(
        via_png, C.resize_nearest
    )


def test_plain_pbm_packed_digits_no_whitespace():
    """Plain PBM (P1) legally packs pixels with NO separating
    whitespace — each '0'/'1' character is one sample (ADVICE r9: a
    split() tokenizer quarantined such files). Comments inside the
    raster and a junk byte still behave."""
    packed = b"P1\n4 2\n0110\n1001\n"
    spaced = b"P1\n4 2\n0 1 1 0\n1 0 0 1\n"
    a = C.decode_pnm(packed)
    b = C.decode_pnm(spaced)
    assert np.array_equal(a, b)
    # 1 = black (0), 0 = white (255)
    assert a[:, :, 0].tolist() == [[255, 0, 0, 255], [0, 255, 255, 0]]
    # comment mid-raster skips to end of line
    commented = b"P1\n4 2\n01#comment 111\n10\n1001\n"
    assert np.array_equal(C.decode_pnm(commented), a)
    with pytest.raises(ValueError, match="bad PBM ASCII raster"):
        C.decode_pnm(b"P1\n4 2\n01x0\n1001\n")
    with pytest.raises(ValueError, match="truncated PNM ASCII raster"):
        C.decode_pnm(b"P1\n4 2\n0110\n10\n")
