"""Audio tag extraction: ID3v2 (v2.2/2.3/2.4, four text encodings,
unsynchronisation, TXXX), VorbisComment (FLAC metadata blocks, Ogg
Vorbis + OpusTags comment headers), RIFF LIST/INFO (WAV) — hand-packed
spec-form oracles + encoder round trips + hostile bounds + the Spark
operator.

Specs: id3.org ID3v2.3/2.4 informal standards, the Xiph VorbisComment
spec + RFC 7845 §5.2 (OpusTags), and the RIFF INFO chunk registry.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from pg2kinesis_spark.functions import codecs as C
from pg2kinesis_spark.functions.codecs import (
    audio_tags,
    encode_flac,
    encode_id3v2,
    encode_mp3_frames,
    encode_ogg_pages,
    encode_vorbis_comment,
    encode_wav,
    flac_tags,
    id3v2_tags,
    ogg_tags,
    vorbis_comments,
    wav_tags,
)

TAGS = {
    "title": "Café Song", "artist": "Ünïcode Bänd", "album": "Test LP",
    "date": "2023", "genre": "Ambient", "track": "3/12",
}


# --- hand-packed spec-form oracles (encoders NOT involved) ------------------


def test_id3v23_hand_packed():
    """One TIT2 frame packed field by field from the v2.3 spec: 10-byte
    header with syncsafe tag size, 10-byte frame header with PLAIN
    big-endian size, latin-1 encoding byte 0."""
    body = b"\x00Hand Title"
    frame = b"TIT2" + struct.pack(">I", len(body)) + b"\x00\x00" + body
    n = len(frame)
    tag = b"ID3\x03\x00\x00" + bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    ) + frame
    assert id3v2_tags(tag) == {"title": "Hand Title"}


def test_id3v24_hand_packed_syncsafe_frame_size():
    """v2.4 frame sizes are SYNCSAFE — a 0x80 bit in them must refuse,
    and a valid syncsafe size must parse."""
    body = b"\x03" + "utf8 täg".encode("utf-8")  # utf-8 encoding byte 3
    n = len(body)
    frame = b"TPE1" + bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    ) + b"\x00\x00" + body
    m = len(frame)
    tag = b"ID3\x04\x00\x00" + bytes(
        [(m >> 21) & 0x7F, (m >> 14) & 0x7F, (m >> 7) & 0x7F, m & 0x7F]
    ) + frame
    assert id3v2_tags(tag) == {"artist": "utf8 täg"}
    bad = bytearray(tag)
    bad[14] = 0x80  # frame size byte with the high bit set
    with pytest.raises(ValueError, match="syncsafe"):
        id3v2_tags(bytes(bad))


def test_vorbis_comment_hand_packed():
    vendor = b"hand vendor"
    e1 = b"TITLE=Hand Vorbis"
    e2 = b"artist=lower key"
    payload = (
        struct.pack("<I", len(vendor)) + vendor
        + struct.pack("<I", 2)
        + struct.pack("<I", len(e1)) + e1
        + struct.pack("<I", len(e2)) + e2
    )
    assert vorbis_comments(payload) == {
        "title": "Hand Vorbis", "artist": "lower key"
    }


# --- encoder round trips -----------------------------------------------------


@pytest.mark.parametrize("version", [2, 3, 4])
@pytest.mark.parametrize("encoding", [0, 1, 2, 3])
def test_id3v2_roundtrip_matrix(version, encoding):
    blob = encode_id3v2(
        dict(TAGS), version=version, encoding=encoding, padding=32,
        txxx=None if version == 2 else {"MyDesc": "custom value"},
    )
    got = id3v2_tags(blob + encode_mp3_frames(3))
    for k, v in TAGS.items():
        assert got[k] == v, (version, encoding, k)
    if version != 2:
        assert got["txxx:mydesc"] == "custom value"


def test_id3v23_unsynchronisation():
    # utf-16 text with code units whose high byte is 0xFF would create
    # false frame syncs; the unsync transform must round-trip
    blob = encode_id3v2({"title": "߿ high ﾯ"}, version=3, encoding=1,
                        unsync=True)
    assert blob[5] & 0x80  # unsync flag set
    assert id3v2_tags(blob)["title"] == "߿ high ﾯ"


def test_flac_tags_roundtrip_and_decode_unaffected():
    pcm = (np.arange(600) % 97 - 48).astype(np.int64)[:, None]
    fl = encode_flac(pcm, 44100, tags=TAGS)
    assert flac_tags(fl)["artist"] == TAGS["artist"]
    dec, rate = C.decode_flac(fl)  # the VORBIS_COMMENT block must not
    assert (dec[:, 0] == pcm[:, 0]).all()  # perturb the frame walk
    assert C.flac_info(fl)["n_samples"] == 600
    assert flac_tags(encode_flac(pcm, 44100)) == {}


@pytest.mark.parametrize("codec", ["opus", "vorbis"])
def test_ogg_tags_roundtrip(codec):
    og = encode_ogg_pages(codec, tags=TAGS)
    got = ogg_tags(og)
    assert got["title"] == TAGS["title"] and got["genre"] == TAGS["genre"]
    info = C.ogg_info(og)  # extra comment page must not move duration
    assert info["codec"] == codec
    assert ogg_tags(encode_ogg_pages(codec)) == {}


def test_wav_tags_roundtrip():
    wav = encode_wav(np.zeros((64, 1), np.int16), 8000,
                     tags={"title": "T", "artist": "A", "comment": "odd"})
    assert wav_tags(wav) == {"title": "T", "artist": "A", "comment": "odd"}
    assert C.decode_wav(wav)[0].shape == (64, 1)  # LIST chunk skipped
    assert wav_tags(encode_wav(np.zeros((8, 1), np.int16), 8000)) == {}


def test_id3v1_trailer():
    """The 128-byte EOF trailer: fixed-width fields, v1.1 track byte
    (comment cut to 28), genre index table; v2 wins key-by-key with the
    v1 trailer filling what v2 lacks."""
    t = {"title": "Old Song", "artist": "Tape Band", "album": "Cassette",
         "date": "1987", "comment": "side b", "track": "4", "genre": "Polka"}
    blk = C.encode_id3v1(t)
    assert len(blk) == 128
    mp3 = encode_mp3_frames(3) + blk
    assert audio_tags(mp3) == t
    assert C.mp3_info(mp3)["n_frames"] == 3  # trailer ends the sync walk
    # hand-packed (encoder not involved): v1.0, 30-char comment, genre 17
    hand = (b"TAG" + b"HandT".ljust(30, b"\x00") + b"HandA".ljust(30, b"\x00")
            + bytes(30) + b"1999" + b"c" * 30 + bytes([17]))
    got = C.id3v1_tags(b"\xff\xfb" + bytes(100) + hand)
    assert got["title"] == "HandT" and got["date"] == "1999"
    assert got["comment"] == "c" * 30 and got["genre"] == "Rock"
    assert "track" not in got  # last comment byte nonzero: not v1.1
    # v2 beats v1 per key, v1 fills the rest
    both = encode_id3v2({"title": "New Title"}, version=4) + mp3
    g2 = audio_tags(both)
    assert g2["title"] == "New Title" and g2["artist"] == "Tape Band"
    assert C.id3v1_tags(encode_mp3_frames(2)) == {}


def test_mp4_ilst_roundtrip():
    """iTunes-style moov.udta.meta.ilst: UTF-8 data atoms for text,
    implicit-type binary for trkn/disk, hand-expected against the
    encoder's independent packing; the udta block must not perturb
    mp4_info."""
    tags = {"title": "M4A Söng", "artist": "The Ärtists", "album": "Box Set",
            "date": "2021-05", "genre": "Döom", "track": "7/13", "disc": "1/2"}
    m4a = C.encode_mp4_skeleton(tags=tags)
    assert C.mp4_tags(m4a) == tags
    assert audio_tags(m4a) == tags
    assert C.mp4_info(m4a)["duration_ms"] == 10000.0
    assert C.mp4_tags(C.encode_mp4_skeleton()) == {}
    # hand-packed minimal ilst (encoder not involved): one ©nam item;
    # data atom = 8 (box hdr) + 4 (well-known type 1) + 4 (locale) + text
    data_atom = struct.pack(">I", 24) + b"data" + struct.pack(">I", 1) \
        + bytes(4) + b"Hand Nam"
    item = struct.pack(">I", 8 + len(data_atom)) + b"\xa9nam" + data_atom
    ilst = struct.pack(">I", 8 + len(item)) + b"ilst" + item
    meta = struct.pack(">I", 12 + len(ilst)) + b"meta" + bytes(4) + ilst
    udta = struct.pack(">I", 8 + len(meta)) + b"udta" + meta
    moov = struct.pack(">I", 8 + len(udta)) + b"moov" + udta
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + bytes(4)
    assert C.mp4_tags(ftyp + moov) == {"title": "Hand Nam"}


def test_mkv_tags_roundtrip():
    """Matroska/WebM Tags element: official TagNames map to canonical
    keys, unknown names pass through as mkv:<name>; the Tags element
    must not perturb the frame-count walk; hand-packed SimpleTag
    decodes without the encoder."""
    t = {"title": "Mkv T", "artist": "Mkv Ä", "date": "2020",
         "genre": "Drone", "track": "5", "mkv:custom_field": "xval"}
    w = C.encode_webm_skeleton(tags=t, n_frames=10)
    assert C.mkv_tags(w) == t
    assert audio_tags(w) == t
    assert C.webm_info(w)["n_frames"] == 10
    assert C.mkv_tags(C.encode_webm_skeleton()) == {}
    # hand-packed: EBML header + Segment(Tags(Tag(SimpleTag)))
    def elem(eid, payload):
        eb = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
        return eb + bytes([0x80 | len(payload)]) + payload
    st = elem(0x67C8, elem(0x45A3, b"TITLE") + elem(0x4487, b"Hand Mkv"))
    seg = elem(0x1254C367, elem(0x7373, st))
    blob = b"\x1a\x45\xdf\xa3\x80" + b"\x18\x53\x80\x67" + bytes(
        [0x80 | len(seg)]
    ) + seg
    assert C.mkv_tags(blob) == {"title": "Hand Mkv"}


def test_audio_tags_dispatch():
    mp3 = encode_id3v2(TAGS, version=4) + encode_mp3_frames(3)
    assert audio_tags(mp3)["artist"] == TAGS["artist"]
    assert audio_tags(encode_mp3_frames(3)) == {}  # untagged: empty, not error
    assert audio_tags(encode_flac(np.zeros((100, 1), np.int64), 8000,
                                  tags=TAGS))["album"] == TAGS["album"]
    with pytest.raises(ValueError, match="tag container"):
        audio_tags(b"neither fish nor fowl")


# --- hostile bounds -----------------------------------------------------------


def test_hostile_bounds_refuse():
    # stomped ID3 frame size overrunning the tag
    blob = bytearray(encode_id3v2({"title": "x"}, version=3))
    i = blob.find(b"TIT2") + 4
    blob[i : i + 4] = struct.pack(">I", 1 << 24)
    with pytest.raises(ValueError, match="overruns"):
        id3v2_tags(bytes(blob))
    # comment-count bomb in a VorbisComment
    bomb = struct.pack("<I", 0) + struct.pack("<I", 1 << 30)
    with pytest.raises(ValueError, match="bound"):
        vorbis_comments(bomb)
    # entry length overrun
    bad = struct.pack("<I", 0) + struct.pack("<I", 1) + struct.pack("<I", 999)
    with pytest.raises(ValueError, match="overruns"):
        vorbis_comments(bad)
    # reserved ID3 encoding byte
    body = b"\x09nope"
    frame = b"TIT2" + struct.pack(">I", len(body)) + b"\x00\x00" + body
    n = len(frame)
    tag = b"ID3\x03\x00\x00" + bytes([0, 0, (n >> 7) & 0x7F, n & 0x7F]) + frame
    with pytest.raises(ValueError, match="encoding"):
        id3v2_tags(tag)


def test_fuzz_audio_tags():
    from tests.test_codec_fuzz import _hammer

    corpus = [
        encode_id3v2(TAGS, version=3, encoding=1, unsync=True)
        + encode_mp3_frames(3),
        encode_flac(np.zeros((300, 2), np.int64), 44100, tags=TAGS),
        encode_ogg_pages("vorbis", tags=TAGS),
        encode_wav(np.zeros((32, 1), np.int16), 8000, tags={"title": "f"}),
        C.encode_mp4_skeleton(tags={"title": "fz", "track": "1/2"}),
    ]
    _hammer(audio_tags, corpus, seed=50)


# --- Spark operator -----------------------------------------------------------


def test_extract_audio_tags_spark(spark):
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_tags,
    )

    mp3 = encode_id3v2(TAGS, version=4) + encode_mp3_frames(3)
    fl = encode_flac(np.zeros((200, 1), np.int64), 22050, tags=TAGS)
    og = encode_ogg_pages("opus", tags={"title": "Ogg T", "artist": "Ogg A"})
    bare = encode_mp3_frames(2)
    rows = [
        (0, bytearray(mp3), ("audio/mpeg", len(mp3), "mem://t.mp3")),
        (1, bytearray(fl), ("audio/flac", len(fl), "mem://t.flac")),
        (2, bytearray(og), ("audio/ogg", len(og), "mem://t.ogg")),
        (3, bytearray(bare), ("audio/mpeg", len(bare), "mem://bare.mp3")),
        (4, bytearray(b"not audio at all"), ("audio/mpeg", 0, "mem://junk")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in extract_audio_tags(media).collect()}
    for mid in (0, 1):
        assert got[mid].title == TAGS["title"]
        assert got[mid].artist == TAGS["artist"]
        assert got[mid].tags["album"] == TAGS["album"]
        assert got[mid].decode_error is None
    assert got[2].title == "Ogg T" and got[2].artist == "Ogg A"
    assert got[3].title is None and got[3].tags == {}  # untagged, clean
    assert got[4].title is None and got[4].decode_error is not None


def test_property_id3v2_roundtrip_hypothesis():
    """Property-based: arbitrary unicode tag values survive the ID3v2
    encode->parse round trip across versions and encodings (latin-1
    restricted to its own range; utf-16 variants get the full BMP —
    the NUL-handling and unsync corners the fixed matrix misses)."""
    from hypothesis import assume, given, settings, strategies as st

    latin = st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=255),
        min_size=1, max_size=40,
    )
    uni = st.text(
        alphabet=st.characters(
            min_codepoint=32, max_codepoint=0xFFFD,
            blacklist_categories=("Cs",),
        ),
        min_size=1, max_size=40,
    )

    @settings(max_examples=80, deadline=None)
    @given(
        data=st.data(),
        version=st.sampled_from([2, 3, 4]),
        encoding=st.sampled_from([0, 1, 2, 3]),
        unsync=st.booleans(),
    )
    def run(data, version, encoding, unsync):
        txt = latin if encoding == 0 else uni
        tags = {
            k: data.draw(txt)
            for k in data.draw(
                st.sets(
                    st.sampled_from(["title", "artist", "album", "genre"]),
                    min_size=1, max_size=4,
                )
            )
        }
        # NULs terminate strings in the wire format; values here are
        # NUL-free by the alphabet (min_codepoint 32)
        blob = encode_id3v2(
            tags, version=version, encoding=encoding,
            unsync=unsync and version <= 3,
        )
        got = id3v2_tags(blob + encode_mp3_frames(2))
        for k, v in tags.items():
            assert got[k] == v, (version, encoding, k)

    run()


def test_utf16_multivalue_boms_stripped():
    """Review finding (round 7): a v2.4 multi-value utf-16 frame
    carries a BOM per value; one whole-body decode strips only the
    first, so later values must shed theirs."""
    body = b"\x01" + "Alice".encode("utf-16") + b"\x00\x00" + "Bob".encode("utf-16")
    n = len(body)
    frame = b"TPE1" + bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    ) + b"\x00\x00" + body
    m = len(frame)
    tag = b"ID3\x04\x00\x00" + bytes(
        [(m >> 21) & 0x7F, (m >> 14) & 0x7F, (m >> 7) & 0x7F, m & 0x7F]
    ) + frame
    assert id3v2_tags(tag) == {"artist": "Alice; Bob"}


def test_embedded_id3_chunk_in_wav_and_aiff():
    """Most real-world WAV/AIFF tagging ships an `id3 ` chunk holding
    a full ID3v2 tag (here with a picture frame). It parses through the
    shared ID3v2 walk and wins key-by-key over INFO/IFF text chunks."""
    art = C.encode_png(np.arange(48, dtype=np.uint8).reshape(4, 4, 3))
    id3 = encode_id3v2({"title": "Embedded T", "artist": "Emb A"},
                       apic=("image/png", art))

    def add_chunk(container: bytes, cid: bytes, be: bool) -> bytes:
        pad = b"\x00" if len(id3) & 1 else b""
        fmt = ">I" if be else "<I"
        blob = bytearray(container + cid + struct.pack("<I", len(id3)) + id3 + pad)
        blob[4:8] = struct.pack(fmt, len(blob) - 8)
        return bytes(blob)

    pcm = np.zeros((64, 1), np.int16)
    wav = add_chunk(encode_wav(pcm, 8000, tags={"title": "Info T",
                                                "genre": "Jazz"}),
                    b"id3 ", be=False)
    got = wav_tags(wav)
    assert got["title"] == "Embedded T"  # ID3 wins the shared key
    assert got["artist"] == "Emb A" and got["genre"] == "Jazz"  # INFO fills
    assert C.decode_wav(wav)[0].shape == (64, 1)  # chunk doesn't perturb PCM

    aif = add_chunk(C.encode_aiff(pcm, 8000, tags={"title": "IFF T",
                                                   "comment": "cc"}),
                    b"ID3 ", be=True)
    g2 = C.aiff_tags(aif)
    assert g2["title"] == "Embedded T" and g2["comment"] == "cc"
