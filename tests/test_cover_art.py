"""Embedded cover art: ID3v2 APIC/PIC, FLAC PICTURE (RFC 9639 §8.8) and
MP4 covr ride alongside the tags and audio the rooted readers walk —
a picture never breaks text tags or the FLAC decode."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from pg2kinesis_spark.functions import codecs as C
from pg2kinesis_spark.functions.codecs import (
    encode_flac,
    encode_id3v2,
    encode_mp3_frames,
    encode_mp4_skeleton,
)


def _art(seed=0):
    rng = np.random.RandomState(seed)
    return C.encode_png(rng.randint(0, 256, (12, 12, 3), dtype=np.uint8))


@pytest.mark.parametrize("version", [2, 3, 4])
def test_id3v2_apic_roundtrip(version):
    art = _art()
    mp3 = encode_id3v2(
        {"title": "x"}, version=version, apic=("image/png", art)
    ) + encode_mp3_frames(2)
    assert C.id3v2_tags(mp3)["title"] == "x"  # APIC doesn't break text


def test_flac_picture_roundtrip_and_hand_packed():
    art = _art(2)
    pcm = np.zeros((200, 1), np.int64)
    fl = encode_flac(pcm, 8000, tags={"title": "t"}, picture=("image/png", art))
    assert C.flac_tags(fl)["title"] == "t"
    dec, _ = C.decode_flac(fl)
    assert dec.shape == (200, 1)  # picture block doesn't perturb decode
    # hand-packed PICTURE block (encoder not involved): type 3, a
    # non-empty description, explicit dims
    mime_b = b"image/jpeg"
    jart = C.encode_jpeg(np.zeros((8, 8, 3), np.uint8), quality=85)
    body = (struct.pack(">II", 3, len(mime_b)) + mime_b
            + struct.pack(">I", 5) + b"front"
            + struct.pack(">IIII", 8, 8, 24, 0)
            + struct.pack(">I", len(jart)) + jart)
    si = encode_flac(pcm, 8000)
    blob = bytearray(si)
    blob[4] &= 0x7F  # STREAMINFO no longer last
    blob = bytes(blob[: 8 + 34]) + bytes([0x80 | 6]) + len(body).to_bytes(
        3, "big"
    ) + body + bytes(si[8 + 34 :])
    assert C.decode_flac(blob)[0].shape == (200, 1)


def test_mp4_covr_types():
    art_png, art_jpg = _art(3), C.encode_jpeg(
        np.zeros((8, 8, 3), np.uint8), quality=85
    )
    for art in (art_png, art_jpg):
        m = encode_mp4_skeleton(tags={"title": "y"}, cover=art)
        assert C.mp4_tags(m)["title"] == "y"  # covr rides alongside text items
