"""GIF codec: lossless round trips pin the LZW pair bit-for-bit.

Unlike JPEG, GIF is palette-exact, so every encode->decode test here
asserts EXACT pixel equality — across interlace, full-256-color
palettes (which force LZW code-width growth), and low-entropy content
(which fills the 4096-entry dictionary and forces a mid-stream CLEAR).
"""

from __future__ import annotations

import numpy as np
import pytest

from pg2kinesis_spark.functions.codecs import (
    decode_gif,
    decode_image,
    encode_gif,
    encode_png,
    is_gif,
)


def _paletted(h, w, ncolors, seed=0):
    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, (ncolors, 3)).astype(np.uint8)
    return pal[rng.randint(0, ncolors, (h, w))]


@pytest.mark.parametrize("interlace", [False, True])
@pytest.mark.parametrize("ncolors", [2, 16, 100])
def test_gif_roundtrip_exact(interlace, ncolors):
    img = _paletted(23, 17, ncolors, seed=ncolors)
    data = encode_gif(img, interlace=interlace)
    assert is_gif(data)
    np.testing.assert_array_equal(decode_gif(data), img)


def test_gif_gray_and_dispatch():
    g = np.arange(99, dtype=np.uint8).reshape(9, 11)
    want = np.repeat(g[:, :, None], 3, axis=2)
    np.testing.assert_array_equal(decode_gif(encode_gif(g)), want)
    np.testing.assert_array_equal(decode_image(encode_gif(g)), want)


def test_gif_code_width_growth_full_palette():
    """256 colors + noise: the LZW stream must widen codes repeatedly."""
    img = _paletted(120, 120, 256, seed=3)
    np.testing.assert_array_equal(decode_gif(encode_gif(img)), img)


def test_gif_dictionary_clear_on_low_entropy():
    """Long repeated runs fill the 4096-entry dictionary and force the
    encoder's mid-stream CLEAR; the decoder must resynchronize."""
    pal = _paletted(1, 256, 256, seed=4).reshape(256, 3)
    img = pal[(np.add.outer(np.arange(300), np.arange(300)) % 7)]
    np.testing.assert_array_equal(decode_gif(encode_gif(img)), img)


def test_gif_rejections():
    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"NOTAGIF")
    with pytest.raises(ValueError, match="256 distinct"):
        # a smooth gradient image with > 256 distinct RGB triples
        rng = np.random.RandomState(8)
        encode_gif(rng.randint(0, 256, (32, 32, 3)).astype(np.uint8))
    with pytest.raises(ValueError):
        encode_gif(np.zeros((4, 4, 4), dtype=np.uint8))  # RGBA unsupported
    img = _paletted(10, 10, 8, seed=5)
    data = bytearray(encode_gif(img))
    with pytest.raises(ValueError):
        decode_gif(bytes(data[:40]))  # truncated mid-stream


def test_gif_property_roundtrip():
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(min_value=1, max_value=16),
        st.integers(min_value=1, max_value=16),
        st.integers(min_value=1, max_value=256),
        st.booleans(),
        st.integers(min_value=0, max_value=2**32 - 1),
    )
    def prop(h, w, ncolors, interlace, seed):
        img = _paletted(h, w, ncolors, seed=seed)
        np.testing.assert_array_equal(
            decode_gif(encode_gif(img, interlace=interlace)), img
        )

    prop()


# --- Spark-side real paths -------------------------------------------------

def test_gif_spark_features_resize_dhash(spark):
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
        media_dhash,
    )

    img = _paletted(24, 16, 32, seed=9)
    rows = [
        (0, bytearray(encode_gif(img)), ("image/gif", 0, "a.gif")),
        (1, bytearray(encode_png(img)), ("image/png", 0, "a.png")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    dims = {r["media_id"]: (r["width"], r["height"]) for r in extract_features(media, fake=False).collect()}
    assert dims == {0: (16, 24), 1: (16, 24)}

    # GIF is lossless: the same pixels as the PNG -> identical dHash
    h = {r["media_id"]: r["dhash"] for r in media_dhash(media).collect()}
    assert h[0] == h[1]


# --- animated GIFs ---------------------------------------------------------

from pg2kinesis_spark.functions.codecs import (  # noqa: E402
    decode_gif_frames,
    encode_gif_frames,
)


def test_animated_roundtrip_exact():
    rng = np.random.RandomState(6)
    pal = rng.randint(0, 256, (32, 3)).astype(np.uint8)
    frames = [pal[rng.randint(0, 32, (15, 21))] for _ in range(4)]
    data = encode_gif_frames(frames, delay_cs=5, loop=2)
    dec = decode_gif_frames(data)
    assert len(dec) == 4
    for a, b in zip(dec, frames):
        np.testing.assert_array_equal(a, b)
    # decode_gif is the first composed frame
    np.testing.assert_array_equal(decode_gif(data), frames[0])


def _gce(disposal, transparent=None, delay=0):
    packed = (disposal & 7) << 2 | (1 if transparent is not None else 0)
    import struct

    return (
        b"\x21\xf9\x04"
        + bytes([packed])
        + struct.pack("<H", delay)
        + bytes([transparent or 0])
        + b"\x00"
    )


def _image_block(left, top, idx_grid, min_code=2):
    """Hand-pack one image descriptor + LZW data (no local palette)."""
    import struct

    from pg2kinesis_spark.functions.codecs import _lzw_encode

    h, w = idx_grid.shape
    out = b"\x2c" + struct.pack("<HHHHB", left, top, w, h, 0) + bytes([min_code])
    lzw = _lzw_encode([int(v) for v in idx_grid.reshape(-1)], min_code)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    return out + b"\x00"


def _hand_gif(blocks, pal, sw, sh, bg=0):
    import struct

    bits = max(1, (len(pal) - 1).bit_length())
    table = np.zeros((1 << bits, 3), dtype=np.uint8)
    table[: len(pal)] = pal
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", sw, sh, 0x80 | (bits - 1), bg, 0)
        + table.tobytes()
        + b"".join(blocks)
        + b"\x3b"
    )


def test_partial_update_transparency_and_disposal():
    """Hand-built animation: frame 2 paints a 2x2 patch at (1,1) with
    one transparent pixel; frame 1 carries disposal=2 so its region is
    restored to background before the patch lands."""
    pal = np.array([[9, 9, 9], [200, 0, 0], [0, 200, 0], [0, 0, 200]], dtype=np.uint8)
    base = np.ones((4, 4), dtype=np.uint8)  # all red
    patch = np.array([[2, 3], [3, 2]], dtype=np.uint8)
    patch_t = np.array([[2, 0], [3, 2]], dtype=np.uint8)  # index 0 transparent

    # frame 1: full red, disposal=1 (keep); frame 2: patch with transparency
    gif = _hand_gif(
        [
            _gce(1),
            _image_block(0, 0, base),
            _gce(2, transparent=0),
            _image_block(1, 1, patch_t),
        ],
        pal,
        4,
        4,
    )
    f = decode_gif_frames(gif)
    assert len(f) == 2
    np.testing.assert_array_equal(f[0], pal[base])
    want = pal[base].copy()
    want[1:3, 1:3] = pal[patch]  # start from red canvas...
    want[1, 2] = pal[1]  # ...but the transparent pixel keeps red
    np.testing.assert_array_equal(f[1], want)

    # disposal=2 on frame 1: before frame 2 its region reverts to bg
    gif2 = _hand_gif(
        [
            _gce(2),
            _image_block(0, 0, base),
            _gce(0),
            _image_block(1, 1, patch),
        ],
        pal,
        4,
        4,
        bg=0,
    )
    f2 = decode_gif_frames(gif2)
    want0 = pal[base]
    want1 = np.broadcast_to(pal[0], (4, 4, 3)).copy()  # bg gray
    want1[1:3, 1:3] = pal[patch]
    np.testing.assert_array_equal(f2[0], want0)
    np.testing.assert_array_equal(f2[1], want1)


def test_disposal_restore_previous():
    """disposal=3: frame 2's paint is undone before frame 3."""
    pal = np.array([[9, 9, 9], [200, 0, 0], [0, 200, 0]], dtype=np.uint8)
    base = np.ones((3, 3), dtype=np.uint8)
    blot = np.full((2, 2), 2, dtype=np.uint8)
    dot = np.full((1, 1), 2, dtype=np.uint8)
    gif = _hand_gif(
        [
            _gce(1),
            _image_block(0, 0, base),
            _gce(3),
            _image_block(0, 0, blot),
            _gce(0),
            _image_block(2, 2, dot),
        ],
        pal,
        3,
        3,
    )
    f = decode_gif_frames(gif)
    assert len(f) == 3
    # frame 3: the blot is gone (restored to frame-1 canvas), only the dot
    want = pal[base].copy()
    want[2, 2] = pal[2]
    np.testing.assert_array_equal(f[2], want)
