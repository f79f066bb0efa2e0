"""Matroska/WebM EBML walk: spec-packed fixtures (encode_webm_skeleton
is the independent side, like encode_mp4_skeleton), vint edge cases,
hostile-structure bounds, and the Spark operator over WebM bytes."""

from __future__ import annotations

import struct

import pytest

from pg2kinesis_spark.functions.codecs import (
    encode_webm_skeleton,
    is_webm,
    video_info,
    webm_info,
)


def test_webm_info_hand_expected():
    data = encode_webm_skeleton(
        duration_s=6.0, width=1920, height=1080, video_codec=b"V_AV1",
        audio_codec=b"A_OPUS", rate=48000.0, channels=2,
    )
    assert is_webm(data)
    info = webm_info(data)
    assert info["duration_ms"] == pytest.approx(6000.0)
    assert (info["width"], info["height"]) == (1920, 1080)
    assert info["video_codec"] == "V_AV1"
    assert info["audio_codec"] == "A_OPUS"
    assert info["sample_rate"] == pytest.approx(48000.0)
    assert info["n_channels"] == 2
    assert (info["n_video_tracks"], info["n_audio_tracks"]) == (1, 1)


def test_webm_unknown_segment_size_and_custom_timecodescale():
    # streamed files use the all-ones unknown-size Segment; a custom
    # TimecodeScale rescales Duration ticks
    a = webm_info(encode_webm_skeleton(duration_s=3.0, unknown_segment_size=True))
    assert a["duration_ms"] == pytest.approx(3000.0)
    b = webm_info(encode_webm_skeleton(duration_s=3.0, timecode_scale=100_000))
    assert b["duration_ms"] == pytest.approx(3000.0)
    v = webm_info(encode_webm_skeleton(audio_codec=None))
    assert v["n_audio_tracks"] == 0 and v["audio_codec"] is None


def test_webm_hostile_structure_is_bounded():
    good = encode_webm_skeleton()
    with pytest.raises(ValueError, match="EBML magic"):
        webm_info(b"\x00\x01\x02\x03" + bytes(32))
    with pytest.raises(ValueError):
        webm_info(good[: len(good) // 2])  # truncated mid-element
    # an element whose declared size escapes its enclosure
    bad = bytearray(good)
    # EBML header is magic + 1-byte size 0x80; stomp Segment's size
    # (right after its 4-byte id) to something huge
    seg_at = 5  # EBML header = 4-byte magic + 1-byte size 0x80
    assert bad[seg_at : seg_at + 4] == bytes.fromhex("18538067")
    bad[seg_at + 4] = 0x41  # 2-byte size vint with a large payload
    with pytest.raises(ValueError):
        webm_info(bytes(bad))
    # element flood hits the budget, not an endless walk
    flood = good + b""
    tiny = bytes.fromhex("EC80")  # Void element id 0xEC, size 0
    many = encode_webm_skeleton()[:5]  # magic + size only
    payload = tiny * 200_000
    seg = bytes.fromhex("18538067") + b"\xff" + payload
    with pytest.raises(ValueError, match="elements"):
        webm_info(many + seg)
    _ = flood


def test_video_info_dispatches_to_webm(spark):
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_video_features,
    )

    info = video_info(encode_webm_skeleton(duration_s=2.0, width=640, height=360))
    assert info["duration_ms"] == pytest.approx(2000.0)
    assert info["n_frames"] is None  # honest: no Clusters to walk
    rows = [
        (0, bytearray(encode_webm_skeleton(duration_s=4.0, width=320,
                                           height=180)),
         ("video/webm", 0, "mem://a.webm")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    r = extract_video_features(media).collect()[0]
    assert r.width == 320 and r.height == 180
    assert r.duration_ms == pytest.approx(4000.0)
    assert r.n_frames is None and r.decode_error is None


def test_ebml_vint_widths():
    from pg2kinesis_spark.functions.codecs import _ebml_id, _ebml_size

    # 1/2/3/4-byte ids keep their marker bit
    assert _ebml_id(b"\xae", 0)[0] == 0xAE
    assert _ebml_id(b"\x44\x89", 0)[0] == 0x4489
    assert _ebml_id(b"\x2a\xd7\xb1", 0)[0] == 0x2AD7B1
    assert _ebml_id(b"\x18\x53\x80\x67", 0)[0] == 0x18538067
    # sizes strip the marker; 0xFF etc. are the unknown sentinel
    assert _ebml_size(b"\x81", 0)[0] == 1
    assert _ebml_size(b"\x40\x01", 0)[0] == 1
    assert _ebml_size(struct.pack(">H", 0x7FFF), 0)[0] is not None
    from pg2kinesis_spark.functions.codecs import _EBML_UNKNOWN

    assert _ebml_size(b"\xff", 0)[0] is _EBML_UNKNOWN
    assert _ebml_size(b"\x7f\xff", 0)[0] is _EBML_UNKNOWN


def test_webm_cluster_frame_walk():
    """Cluster/SimpleBlock walk: video-track frames count across
    clusters, audio-track blocks are ignored, BlockGroup/Block and
    EBML-laced multi-frame blocks count correctly, fps re-derives as
    frames/duration, and skeletons stay honestly NULL."""
    w = encode_webm_skeleton(duration_s=12.0, n_frames=30)
    i = webm_info(w)
    assert (i["n_frames"], i["fps"]) == (30, pytest.approx(2.5))
    # interleaved audio blocks + BlockGroups: same video frame count
    mixed = encode_webm_skeleton(
        duration_s=10.0, n_frames=50, audio_blocks=True, block_groups=True
    )
    assert webm_info(mixed)["n_frames"] == 50
    # EBML lacing: 24 two-frame blocks carry 48 frames
    laced = encode_webm_skeleton(duration_s=10.0, n_frames=48, laced_pairs=True)
    assert webm_info(laced)["n_frames"] == 48
    # unknown-size segment: clusters walk through the nested span
    u = encode_webm_skeleton(duration_s=6.0, n_frames=24, unknown_segment_size=True)
    assert webm_info(u)["n_frames"] == 24
    # no clusters -> no count, no fps (and no error)
    s = webm_info(encode_webm_skeleton(duration_s=6.0))
    assert s["n_frames"] is None and s["fps"] is None


def test_webm_cluster_walk_degrades_over_block_budget(monkeypatch):
    """Block flood degrades the count to None instead of failing the
    whole metadata walk — big real files must keep dims/duration."""
    import pg2kinesis_spark.functions.codecs as C

    w = encode_webm_skeleton(duration_s=4.0, n_frames=100)
    assert webm_info(w)["n_frames"] == 100
    monkeypatch.setattr(C, "_MKV_MAX_BLOCKS", 50)
    i = webm_info(w)
    assert i["n_frames"] is None and i["fps"] is None
    assert i["width"] == 1280 and i["duration_ms"] == pytest.approx(4000.0)


def test_webm_hostile_block_headers_raise():
    """A block whose track vint or 3-byte header is cut by its element
    boundary must raise, not mis-count."""
    from pg2kinesis_spark.functions.codecs import (
        _MKV_CLUSTER,
        _MKV_SIMPLEBLOCK,
        _ebml_elem,
    )

    base = encode_webm_skeleton(duration_s=2.0)
    # strip the outer Segment wrapper and rebuild with a bad cluster
    bad_cluster = _ebml_elem(_MKV_CLUSTER, _ebml_elem(_MKV_SIMPLEBLOCK, b"\x81"))
    seg = bytes.fromhex("18538067") + b"\xff"
    with pytest.raises(ValueError, match="block"):
        webm_info(base[:5] + seg + base[10:] + bad_cluster)


def test_fuzz_webm_cluster_walk():
    from tests.test_codec_fuzz import _hammer

    corpus = [
        encode_webm_skeleton(duration_s=5.0, n_frames=40, audio_blocks=True),
        encode_webm_skeleton(duration_s=5.0, n_frames=20, block_groups=True),
        encode_webm_skeleton(duration_s=5.0, n_frames=16, laced_pairs=True),
    ]
    _hammer(webm_info, corpus, seed=51)
