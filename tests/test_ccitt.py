"""CCITT G3/G4 tier (functions/ccitt.py + the TIFF compression 2/3/4
and PDF /CCITTFaxDecode front doors): round-trip matrix across all
coding modes, the ITU-T T.4 table transcription cross-checks
(prefix-freeness incl. EOL, the published all-white-row identity),
TIFF-G4 ≡ PNG dHash identity, the PDF scanned-plate pair, hostile
bounds, and the corruption hammer."""

from __future__ import annotations

import numpy as np
import pytest

from pg2kinesis_spark.functions import ccitt as CC
from pg2kinesis_spark.functions import codecs as C


def _fax_page(h: int, w: int, seed: int = 7, noise: float = 0.0) -> np.ndarray:
    """Blocky bilevel content shaped like a scanned page."""
    rng = np.random.default_rng(seed)
    img = np.zeros((h, w), dtype=bool)
    for _ in range(10):
        r0, c0 = int(rng.integers(0, h)), int(rng.integers(0, w))
        img[r0 : r0 + int(rng.integers(1, h // 2 + 1)),
            c0 : c0 + int(rng.integers(1, w // 2 + 1))] = True
    if noise:
        img ^= rng.random((h, w)) < noise
    return img


def test_round_trip_matrix():
    """MH / T.4-2D / G4, byte-aligned and not, blocky and noisy, edge
    shapes (1-pixel rows/columns, all white, all black, black-first)."""
    cases = [
        _fax_page(24, 60), _fax_page(9, 200, seed=3, noise=0.15),
        np.zeros((5, 40), dtype=bool), np.ones((5, 40), dtype=bool),
        np.array([[True] + [False] * 30]), np.ones((1, 1), dtype=bool),
        np.tile(np.arange(64) % 2 == 0, (3, 1)),  # 1-px alternation
    ]
    for img in cases:
        h, w = img.shape
        for k in (-1, 0, 1, 2, 4):
            for ba in (False, True):
                enc = CC.ccitt_encode(img, k=k, byte_align=ba)
                got = CC.ccitt_decode(enc, w, h, k=k, byte_align=ba)
                assert np.array_equal(got, img), (k, ba, img.shape)


def test_t4_tables_transcription_checks():
    """The transcription is cross-checked without the encoder: every
    code set (terminating + makeup + extended + EOL) is prefix-free
    per color, run coverage is exactly 0..63 + the 64-multiples to
    2560, and the published all-white-1728-row identity holds."""
    def prefix_free(enc):
        codes = sorted(enc.values(), key=len) + [CC._EOL]
        for i, a in enumerate(codes):
            for b in codes[i + 1 :]:
                if b.startswith(a) and a != b:
                    return (a, b)
        return None

    assert prefix_free(CC._WHITE_ENC) is None
    assert prefix_free(CC._BLACK_ENC) is None
    for enc in (CC._WHITE_ENC, CC._BLACK_ENC):
        assert sorted(r for r in enc if r < 64) == list(range(64))
        assert sorted(r for r in enc if r >= 64) == [
            64 * i for i in range(1, 41)
        ]
    # T.4: an all-white 1728-pixel line codes as makeup(1728) + term(0)
    w = CC._BitWriter()
    CC._enc_1d_row(w, np.zeros(1728, dtype=bool))
    bits = "".join(f"{b:08b}" for b in w.done())
    assert bits.startswith("010011011" + "00110101")
    # and the 2-bit black codes are the spec's 2/3 runs
    assert CC._BLACK_ENC[2] == "11" and CC._BLACK_ENC[3] == "10"


def test_decode_refuses_garbage_and_extensions():
    img = _fax_page(10, 50)
    g4 = CC.ccitt_encode(img, k=-1)
    with pytest.raises(ValueError):
        CC.ccitt_decode(b"\xaa\xbb\xcc\xdd", 50, 10, k=0)
    with pytest.raises(ValueError):
        CC.ccitt_decode(g4[: len(g4) // 3], 50, 10, k=-1)
    # 2D extension escape (uncompressed mode): seven zeros + 1
    w = CC._BitWriter()
    w.write("0000001")
    w.write("111")
    with pytest.raises(NotImplementedError, match="uncompressed"):
        CC.ccitt_decode(w.done(), 50, 10, k=-1)
    with pytest.raises(ValueError, match="out of bounds"):
        CC.ccitt_decode(b"", 1 << 20, 1 << 20, k=-1)


# --- TIFF front door ---------------------------------------------------------


def test_tiff_ccitt_round_trips_and_png_identity():
    """TIFF compressions 2 (MH), 3 (T.4 2D) and 4 (G4) decode to the
    same pixels as the uncompressed twin, across byte orders and strip
    splits; the dHash matches the PNG re-encode of the same page (the
    TIFF≡PNG identity the round-8 tier pinned for LZW/deflate)."""
    from pg2kinesis_spark.functions.multimodal import _dhash_image

    img = _fax_page(40, 120)
    px = np.where(img, 0, 255).astype(np.uint8)  # black ink = dark
    base = None
    for comp in (1, 2, 3, 4):
        for bo in ("<", ">"):
            for rps in (40, 13):
                t = C.encode_tiff(
                    px, compression=comp, bits=1, photometric=0,
                    byteorder=bo, rows_per_strip=rps,
                )
                got = C.decode_tiff(t)
                if base is None:
                    base = got
                assert np.array_equal(got, base), (comp, bo, rps)
    assert np.array_equal(base[:, :, 0], px)
    png = C.encode_png(px[:, :, None])
    assert _dhash_image(C.decode_png(png), C.resize_nearest) == _dhash_image(
        base, C.resize_nearest
    )


def test_tiff_ccitt_photometric_1():
    img = _fax_page(12, 33, seed=5)
    px = np.where(img, 0, 255).astype(np.uint8)
    t = C.encode_tiff(px, compression=4, bits=1, photometric=1)
    assert np.array_equal(C.decode_tiff(t)[:, :, 0], px)


def test_tiff_t4_uncompressed_option_refuses():
    import struct

    img = _fax_page(8, 40)
    t = bytearray(C.encode_tiff(
        np.where(img, 0, 255).astype(np.uint8), compression=3, bits=1,
        photometric=0,
    ))
    # flip T4Options (tag 292) from 1 (2D) to 3 (2D + uncompressed)
    at = t.find(struct.pack("<HHI", 292, 4, 1))
    assert at > 0
    t[at + 8] = 3
    with pytest.raises(NotImplementedError, match="uncompressed"):
        C.decode_tiff(bytes(t))


def test_fuzz_tiff_ccitt():
    from tests.test_codec_fuzz import _hammer

    img = _fax_page(16, 64)
    px = np.where(img, 0, 255).astype(np.uint8)
    corpus = [
        C.encode_tiff(px, compression=comp, bits=1, photometric=0)
        for comp in (2, 3, 4)
    ]
    _hammer(C.decode_tiff, corpus, seed=11)


# --- PDF front door ----------------------------------------------------------


def test_pdf_ccitt_images_decode_and_pair(spark):
    """A G4-coded scanned plate and its raw-gray twin in two PDFs land
    at dHash distance 0 through extract_pdf_images →
    media_near_dup_pairs; an unrelated plate separates; K=0 (MH) and
    K>0 (mixed 2D) decode identically."""
    from pyspark.sql import functions as F

    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_pdf_images,
        media_near_dup_pairs,
    )
    from pg2kinesis_spark.functions.pdf import encode_pdf, pdf_images

    plate = _fax_page(48, 96, seed=13)
    other = _fax_page(48, 96, seed=99)
    gray = np.where(plate, 0, 255).astype(np.uint8)

    g4 = CC.ccitt_encode(plate, k=-1)
    g3 = CC.ccitt_encode(plate, k=2)
    mh = CC.ccitt_encode(plate, k=0, byte_align=True)
    doc_g4 = encode_pdf([["scan"]], images=[(g4, 96, 48, "ccitt-g4")])
    doc_g3 = encode_pdf([["scan"]], images=[(g3, 96, 48, "ccitt-g3")])
    doc_mh = encode_pdf([["scan"]], images=[(mh, 96, 48, "ccitt-mh")])
    doc_raw = encode_pdf([["scan"]], images=[(gray.tobytes(), 96, 48, "gray")])
    doc_oth = encode_pdf(
        [["scan"]],
        images=[(CC.ccitt_encode(other, k=-1), 96, 48, "ccitt-g4")],
    )

    # direct: all three fax codings reproduce the exact plate
    for doc in (doc_g4, doc_g3, doc_mh):
        got = pdf_images(doc)
        assert got[0][2] == "image/png" and got[0][3] is None
        assert np.array_equal(C.decode_png(got[0][1])[:, :, 0], gray)

    rows = [
        (i, bytearray(d), ("application/pdf", len(d), f"mem://{i}.pdf"))
        for i, d in enumerate([doc_g4, doc_raw, doc_oth])
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    # one plate per document: the image rows keep their document's id
    figures = extract_pdf_images(media).select(
        "media_id",
        "content",
        F.struct("mime", F.length("content").cast("long").alias("bytes_hint"),
                 F.lit("").alias("source_uri")).alias("meta"),
    )
    pairs = media_near_dup_pairs(figures, max_hamming=0, signature="dhash")
    got = [
        (r["media_id1"], r["media_id2"]) for r in pairs.collect()
    ]
    assert len(got) == 1  # exactly the g4↔raw pair, the other separates


def test_pdf_ccitt_geometry_mismatch_quarantines():
    from pg2kinesis_spark.functions.pdf import encode_pdf, pdf_images

    plate = _fax_page(10, 40)
    doc = encode_pdf(
        [["x"]], images=[(CC.ccitt_encode(plate, k=-1), 40, 10, "ccitt-g4")]
    )
    # /Columns inside DecodeParms disagrees with /Width -> per-image error
    bad = doc.replace(b"/Columns 40", b"/Columns 48")
    r = pdf_images(bad)
    assert r[0][1] is None and "geometry" in r[0][3]


_HAS_PIL = False
try:  # PIL reads G3/G4 TIFF via libtiff — the external-decoder oracle
    import PIL.Image  # noqa: F401

    _HAS_PIL = True
except Exception:
    pass


@pytest.mark.skipif(not _HAS_PIL, reason="PIL not installed in this container")
def test_pil_equality_on_g4_tiff():
    import io

    import PIL.Image

    img = _fax_page(32, 80, seed=21)
    px = np.where(img, 0, 255).astype(np.uint8)
    t = C.encode_tiff(px, compression=4, bits=1, photometric=0)
    ours = C.decode_tiff(t)[:, :, 0]
    theirs = np.asarray(PIL.Image.open(io.BytesIO(t)).convert("L"))
    assert np.array_equal(ours, theirs)
