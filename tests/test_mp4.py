"""MP4 / ISO BMFF metadata walk: spec-packed fixtures (the encoder is
the independent side of the contract, like encode_mp3_frames), hostile
structure bounds, and the Spark video-metadata operator over MP4 bytes.
Box layouts follow ISO/IEC 14496-12 (mvhd/tkhd/mdhd/hdlr/stsd/stsz)."""

from __future__ import annotations

import struct

import pytest

from pg2kinesis_spark.functions.codecs import (
    encode_mp4_skeleton,
    is_mp4,
    mp4_info,
    video_info,
)


def test_mp4_info_reads_hand_expected_values():
    data = encode_mp4_skeleton(
        duration_s=8.0, timescale=600, width=640, height=360, fps=25.0,
        video_codec=b"avc1", audio_codec=b"mp4a", brand=b"isom",
    )
    assert is_mp4(data)
    info = mp4_info(data)
    assert info["brand"] == "isom"
    assert info["duration_ms"] == pytest.approx(8000.0)
    assert (info["width"], info["height"]) == (640, 360)
    assert info["n_frames"] == 200  # 8 s * 25 fps
    assert info["fps"] == pytest.approx(25.0)
    assert info["video_codec"] == "avc1"
    assert info["audio_codec"] == "mp4a"
    assert (info["n_video_tracks"], info["n_audio_tracks"]) == (1, 1)


def test_mp4_version1_boxes_and_largesize():
    # 64-bit times (version-1 full boxes) and a largesize mdat must
    # parse to the same metadata as their 32-bit siblings
    v0 = mp4_info(encode_mp4_skeleton(duration_s=4.0, fps=30.0))
    v1 = mp4_info(
        encode_mp4_skeleton(
            duration_s=4.0, fps=30.0, version1=True, largesize_mdat=True
        )
    )
    for k in ("duration_ms", "width", "height", "n_frames", "fps"):
        assert v0[k] == pytest.approx(v1[k]), k


def test_mp4_video_only_and_audio_brand():
    info = mp4_info(encode_mp4_skeleton(audio_codec=None))
    assert info["n_audio_tracks"] == 0 and info["audio_codec"] is None
    m4a = encode_mp4_skeleton(brand=b"M4A ")
    assert mp4_info(m4a)["brand"] == "M4A"


def test_mp4_hostile_structure_is_bounded():
    good = encode_mp4_skeleton()
    # a box whose size escapes its enclosure
    bad = bytearray(good)
    bad[0:4] = struct.pack(">I", len(good) + 100)
    with pytest.raises(ValueError, match="escapes"):
        mp4_info(bytes(bad))
    # truncated stream: moov never completes
    with pytest.raises(ValueError):
        mp4_info(good[: len(good) // 3])
    # a pathological stream of tiny boxes must hit the box budget,
    # not walk forever
    (ftyp_size,) = struct.unpack(">I", good[:4])
    many = bytes(good[:ftyp_size]) + b"".join(
        struct.pack(">I", 8) + b"free" for _ in range(20_000)
    )
    with pytest.raises(ValueError, match="boxes"):
        mp4_info(many)
    # not an MP4 at all
    with pytest.raises(ValueError, match="ftyp"):
        mp4_info(b"\x00" * 64)


def test_video_info_dispatches_to_mp4():
    info = video_info(encode_mp4_skeleton(duration_s=2.0, fps=10.0))
    assert info["n_frames"] == 20
    assert info["video_codec"] == "avc1"


def test_spark_video_metadata_and_sniff_over_mp4(spark):
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_video_features,
    )

    rows = [
        (0, bytearray(encode_mp4_skeleton(duration_s=3.0, fps=12.0,
                                          width=320, height=180)),
         ("video/mp4", 0, "mem://a.mp4")),
        (1, bytearray(b"\x00\x01garbage not a container"),
         ("application/octet-stream", 0, "mem://junk")),
        (2, bytearray(encode_mp4_skeleton(brand=b"M4A ")),
         ("audio/mp4", 0, "mem://b.m4a")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in extract_video_features(media).collect()}
    assert out[0].n_frames == 36 and out[0].width == 320
    assert out[0].decode_error is None
    assert out[1].n_frames is None and out[1].decode_error is not None


def test_truncated_metadata_raises_valueerror():
    """The documented contract: hostile/truncated structure raises
    ValueError — never a leaked IndexError/struct.error."""
    import struct as _s

    from pg2kinesis_spark.functions.codecs import (
        _mp4_box,
        encode_ogg_pages,
        ogg_info,
    )

    # an mvhd whose body is 2 bytes (version byte readable, fields not)
    stub = _mp4_box(b"ftyp", b"isom" + bytes(8)) + _mp4_box(
        b"moov", _mp4_box(b"mvhd", b"\x00\x00")
    )
    with pytest.raises(ValueError, match="MP4"):
        mp4_info(stub)
    # an OpusHead first packet too short for its channel field
    ogg = encode_ogg_pages("opus")
    # rebuild page 0 with a 9-byte OpusHead payload
    short = b"OggS" + bytes([0, 2]) + _s.pack("<q", -1) + _s.pack("<II", 7, 0) \
        + bytes(4) + bytes([1, 9]) + b"OpusHead\x01"
    with pytest.raises(ValueError, match="Ogg"):
        ogg_info(short)
    _ = ogg
