"""TIFF tier (round 8): IFD walk, strip assembly, compression matrix
(none/LZW/deflate/PackBits), predictor 2, both byte orders, bilevel,
photometric inversion, hostile bounds, image-tier integration, fuzz."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from pg2kinesis_spark.functions import codecs as C


def _img(h, w, c, seed=7):
    return np.random.RandomState(seed).randint(0, 256, (h, w, c), dtype=np.uint8)


def test_round_trip_matrix():
    img = {1: _img(23, 17, 1), 3: _img(23, 17, 3)}
    for comp in (1, 5, 8, 32773):
        for pred in (1, 2):
            for ch in (1, 3):
                for bo in ("<", ">"):
                    t = C.encode_tiff(img[ch], compression=comp, predictor=pred,
                                      rows_per_strip=7, byteorder=bo)
                    assert np.array_equal(C.decode_tiff(t), img[ch]), (comp, pred, ch, bo)
                    info = C.tiff_info(t)
                    assert (info["width"], info["height"], info["n_channels"],
                            info["compression"], info["bits"]) == (17, 23, ch, comp, 8)


def test_lzw_encoder_matches_pdf_decoder_through_width_bumps():
    """The shared MSB-first early-change LZW: random and repetitive
    payloads long enough to cross the 9→10→11→12-bit boundaries and
    force a table reset."""
    from pg2kinesis_spark.functions.pdf import _lzw_decode

    rng = np.random.RandomState(3)
    for data in (
        bytes(rng.randint(0, 256, 60000, dtype=np.uint8)),
        bytes(rng.randint(0, 4, 50000, dtype=np.uint8)),
        bytes(np.tile(rng.randint(0, 256, 17, dtype=np.uint8), 3000)),
        b"", b"a", b"ab" * 5,
    ):
        assert _lzw_decode(C._tiff_lzw_encode(data), early=1) == data


def test_packbits_pair():
    rng = np.random.RandomState(4)
    for trial in range(40):
        n = int(rng.randint(1, 3000))
        data = (bytes(rng.randint(0, 3, n, dtype=np.uint8)) if trial % 2
                else bytes(rng.randint(0, 256, n, dtype=np.uint8)))
        assert C._packbits_decode(C._packbits_encode(data), n) == data


def test_bilevel_and_photometric_inversion():
    rng = np.random.RandomState(5)
    ink = (rng.randint(0, 2, (13, 30)) * 255).astype(np.uint8)
    for photo in (0, 1):
        t = C.encode_tiff(ink, bits=1, photometric=photo, rows_per_strip=4)
        got = C.decode_tiff(t)
        assert got.shape == (13, 30, 1)
        assert np.array_equal(got[:, :, 0], ink)  # inversion round-trips
        assert C.tiff_info(t)["bits"] == 1
    g = _img(9, 11, 1)
    t0 = C.encode_tiff(g, photometric=0)  # 8-bit WhiteIsZero
    assert np.array_equal(C.decode_tiff(t0), 255 - g)


def test_hand_packed_ifd_oracle():
    """Spec-form oracle: a hand-assembled little-endian TIFF (2x2 gray,
    uncompressed, one strip) decodes to the exact planted bytes."""
    px = bytes([10, 20, 30, 40])
    # header(8) + pixels(4) -> IFD at 12
    ifd_entries = [
        (256, 3, 1, 2), (257, 3, 1, 2), (258, 3, 1, 8), (259, 3, 1, 1),
        (262, 3, 1, 1), (273, 4, 1, 8), (277, 3, 1, 1), (278, 4, 1, 2),
        (279, 4, 1, 4),
    ]
    ifd = struct.pack("<H", len(ifd_entries))
    for tag, typ, cnt, val in ifd_entries:
        ifd += struct.pack("<HHII", tag, typ, cnt, val)
    ifd += struct.pack("<I", 0)
    blob = b"II*\x00" + struct.pack("<I", 12) + px + ifd
    got = C.decode_tiff(blob)
    assert got.shape == (2, 2, 1) and got.flatten().tolist() == [10, 20, 30, 40]
    # SHORT values for width/height read correctly (inline, not offset)
    assert C.tiff_info(blob)["width"] == 2


def test_refusals_and_bounds():
    img = _img(6, 5, 1)
    t = bytearray(C.encode_tiff(img))
    # tiled layout refuses
    tiled = C.encode_tiff(img)
    # patch tag 273 -> 324 (TileOffsets) to simulate a tiled file
    at = tiled.find(struct.pack("<H", 273))
    tiled = tiled[:at] + struct.pack("<H", 324) + tiled[at + 2:]
    with pytest.raises((NotImplementedError, ValueError)):
        C.decode_tiff(tiled)
    # hostile: IFD offset loop
    loop = bytearray(C.encode_tiff(img))
    # next-IFD pointer -> first IFD offset (self-loop)
    (first,) = struct.unpack_from("<I", loop, 4)
    (n_entries,) = struct.unpack_from("<H", loop, first)
    struct.pack_into("<I", loop, first + 2 + 12 * n_entries, first)
    with pytest.raises(ValueError, match="loops"):
        C.tiff_info(bytes(loop))
    # dimensions beyond MAX_PIXELS refuse before allocation
    big = bytearray(C.encode_tiff(img))
    at = big.find(struct.pack("<HHI", 256, 4, 1))
    struct.pack_into("<I", big, at + 8, 1 << 20)
    with pytest.raises((ValueError, NotImplementedError)):
        C.decode_tiff(bytes(big))
    with pytest.raises(ValueError, match="byte-order"):
        C.tiff_info(b"XX*\x00" + bytes(20))


def test_image_tier_integration(spark):
    """TIFF rides decode_image: features extract, and a TIFF
    and a PNG of the SAME pixels dHash identically (lossless identity,
    the WAV==FLAC analogue for images)."""
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_image_features,
        media_dhash,
    )

    img = _img(24, 16, 3, seed=9)
    tif = C.encode_tiff(img, compression=5, predictor=2)
    png = C.encode_png(img)
    rows = [
        (0, bytearray(tif), ("image/tiff", len(tif), "mem://0.tif")),
        (1, bytearray(png), ("image/png", len(png), "mem://1.png")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in extract_image_features(media).collect()}
    assert feats[0]["width"] == 16 and feats[0]["n_channels"] == 3
    assert feats[0]["mean_luma"] == feats[1]["mean_luma"]
    d = {r["media_id"]: r["dhash"] for r in media_dhash(media).collect()}
    assert d[0] == d[1] and d[0] is not None


def test_fuzz_tiff_decode():
    from tests.test_codec_fuzz import _hammer

    corpus = [
        C.encode_tiff(_img(16, 12, 3), compression=5, predictor=2, rows_per_strip=5),
        C.encode_tiff(_img(10, 8, 1), compression=32773),
        C.encode_tiff((np.random.RandomState(2).randint(0, 2, (12, 20)) * 255
                       ).astype(np.uint8), bits=1),
    ]
    _hammer(C.decode_tiff, corpus, seed=31)


def test_multi_page_selection():
    """Hand-assembled two-page TIFF: page selection walks the IFD
    chain; tiff_info reports the page count."""
    pxa, pxb = bytes([1, 2, 3, 4]), bytes([9, 8, 7, 6])

    def ifd(strip_off, next_off):
        entries = [
            (256, 3, 1, 2), (257, 3, 1, 2), (258, 3, 1, 8), (259, 3, 1, 1),
            (262, 3, 1, 1), (273, 4, 1, strip_off), (277, 3, 1, 1),
            (278, 4, 1, 2), (279, 4, 1, 4),
        ]
        b = struct.pack("<H", len(entries))
        for tag, typ, cnt, val in entries:
            b += struct.pack("<HHII", tag, typ, cnt, val)
        return b + struct.pack("<I", next_off)

    # header(8) pxa(4) pxb(4) ifd1 ifd2
    ifd1_off = 16
    ifd_len = 2 + 9 * 12 + 4
    blob = (b"II*\x00" + struct.pack("<I", ifd1_off) + pxa + pxb
            + ifd(8, ifd1_off + ifd_len) + ifd(12, 0))
    assert C.tiff_info(blob)["n_pages"] == 2
    assert C.decode_tiff(blob, page=0).flatten().tolist() == [1, 2, 3, 4]
    assert C.decode_tiff(blob, page=1).flatten().tolist() == [9, 8, 7, 6]
    with pytest.raises(ValueError, match="no page"):
        C.decode_tiff(blob, page=2)


def test_sixteen_bit_reduces_to_high_byte():
    """16-bit samples (both byte orders, with and without predictor 2,
    every compression) reduce to the high byte — the PNG 16-bit rule —
    and WhiteIsZero still inverts after reduction."""
    rng = np.random.RandomState(11)
    img16 = rng.randint(0, 65536, (14, 9, 3)).astype(np.uint16)
    want = (img16 >> 8).astype(np.uint8)
    for comp in (1, 5, 8, 32773):
        for pred in (1, 2):
            for bo in ("<", ">"):
                t = C.encode_tiff(img16, bits=16, compression=comp,
                                  predictor=pred, byteorder=bo, rows_per_strip=5)
                assert np.array_equal(C.decode_tiff(t), want), (comp, pred, bo)
                assert C.tiff_info(t)["bits"] == 16
    g16 = rng.randint(0, 65536, (6, 7)).astype(np.uint16)
    t0 = C.encode_tiff(g16, bits=16, photometric=0)
    assert np.array_equal(
        C.decode_tiff(t0)[:, :, 0], 255 - (g16 >> 8).astype(np.uint8)
    )


# --- tiled layouts + planar configuration 2 (round 9) -----------------------


def test_tiled_round_trips_with_edge_clipping():
    """Tile assembly across bit depths, compressions, byte orders and
    non-dividing tile grids: edge tiles are coded at FULL tile size
    and clip into the raster; prediction restarts per tile (an
    image-row cumsum would corrupt every tile column after the
    first)."""
    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (37, 53, 3), dtype=np.uint8)
    for comp in (1, 5, 8, 32773):
        for pred in (1, 2):
            for bo in ("<", ">"):
                for tiles in ((16, 16), (32, 20), (64, 64)):
                    t = C.encode_tiff(img, compression=comp, predictor=pred,
                                      byteorder=bo, tiles=tiles)
                    assert np.array_equal(C.decode_tiff(t), img), (
                        comp, pred, bo, tiles)
    # 16-bit tiled reduces to the high byte like the strip path
    img16 = rng.randint(0, 65536, (21, 30, 3)).astype(np.uint16)
    t = C.encode_tiff(img16, bits=16, predictor=2, tiles=(16, 16))
    assert np.array_equal(C.decode_tiff(t), (img16 >> 8).astype(np.uint8))


def test_tiled_ccitt_g4_scan():
    """A tiled G4 fax (large scanner output layout): each tile is an
    independent T.6 image; assembly reproduces the page exactly."""
    rng = np.random.RandomState(9)
    ink = np.zeros((40, 70), dtype=np.uint8)
    for _ in range(8):
        r, c = rng.randint(0, 40), rng.randint(0, 70)
        ink[r : r + rng.randint(2, 18), c : c + rng.randint(2, 30)] = 255
    px = 255 - ink  # black ink = dark
    t = C.encode_tiff(px, compression=4, bits=1, photometric=0,
                      tiles=(32, 16))
    assert np.array_equal(C.decode_tiff(t)[:, :, 0], px)


def test_planar_two_de_interleaves():
    """Planar configuration 2: one segment sequence per channel, in
    strip and tile layouts, every compression, both byte orders."""
    rng = np.random.RandomState(13)
    img = rng.randint(0, 256, (19, 23, 3), dtype=np.uint8)
    for comp in (1, 5, 8, 32773):
        for bo in ("<", ">"):
            t = C.encode_tiff(img, compression=comp, byteorder=bo,
                              planar=2, rows_per_strip=7)
            assert np.array_equal(C.decode_tiff(t), img), (comp, bo, "strip")
            t = C.encode_tiff(img, compression=comp, byteorder=bo,
                              planar=2, tiles=(16, 8))
            assert np.array_equal(C.decode_tiff(t), img), (comp, bo, "tile")
    img16 = rng.randint(0, 65536, (9, 11, 3)).astype(np.uint16)
    t = C.encode_tiff(img16, bits=16, planar=2, predictor=2, rows_per_strip=4)
    assert np.array_equal(C.decode_tiff(t), (img16 >> 8).astype(np.uint8))


def test_tiled_and_planar_bounds():
    import struct

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (20, 20, 3), dtype=np.uint8)
    t = C.encode_tiff(img, tiles=(16, 16))
    # truncate the tile count array: offsets/counts disagreement
    at = t.find(struct.pack("<HHI", 325, 4, 4))
    assert at > 0
    bad = t[:at] + struct.pack("<HHI", 325, 4, 3) + t[at + 8 :]
    with pytest.raises(ValueError):
        C.decode_tiff(bad)
    # planar 3 refuses
    t2 = bytearray(C.encode_tiff(img, planar=2))
    at = t2.find(struct.pack("<HH", 284, 3))
    t2[at + 8] = 3
    with pytest.raises(NotImplementedError, match="planar"):
        C.decode_tiff(bytes(t2))
    # tile grid that disagrees with the offsets count
    t3 = bytearray(C.encode_tiff(img, tiles=(16, 16)))
    at = t3.find(struct.pack("<HHI", 322, 4, 1))
    struct.pack_into("<I", t3, at + 8, 8)  # TileWidth 16 -> 8
    with pytest.raises(ValueError, match="tile count"):
        C.decode_tiff(bytes(t3))


def test_fuzz_tiled_planar_tiff():
    from tests.test_codec_fuzz import _hammer

    rng = np.random.RandomState(17)
    img = rng.randint(0, 256, (24, 33, 3), dtype=np.uint8)
    ink = (rng.rand(24, 33) < 0.3).astype(np.uint8) * 255
    corpus = [
        C.encode_tiff(img, compression=5, tiles=(16, 16)),
        C.encode_tiff(img, compression=8, planar=2, rows_per_strip=9),
        C.encode_tiff(255 - ink, compression=4, bits=1, photometric=0,
                      tiles=(16, 16)),
    ]
    _hammer(C.decode_tiff, corpus, seed=23)
