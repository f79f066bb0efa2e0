"""MP3/WAV header-walk metadata: spec-packed frame streams as the
independent fixture side (ISO/IEC 11172-3 frame-length and
samples-per-frame formulas, hand-expected values), ID3v2 skip, Xing
exclusion, VBR detection, and the Spark header-only audio operator."""

from __future__ import annotations

import numpy as np
import pytest

from pg2kinesis_spark.functions.codecs import (
    encode_mp3_frames,
    encode_wav,
    is_mp3,
    mp3_info,
    wav_info,
)


def test_mp3_cbr_stereo_mpeg1_layer3():
    data = encode_mp3_frames(n_frames=40, kbps=128, rate=44100)
    assert is_mp3(data)
    m = mp3_info(data)
    assert m["n_frames"] == 40
    assert m["sample_rate"] == 44100 and m["n_channels"] == 2
    assert m["layer"] == 3 and m["version"] == "1"
    assert m["bitrate_kbps"] == 128 and m["vbr"] is False
    # 40 frames * 1152 samples / 44100 Hz
    assert m["duration_ms"] == pytest.approx(40 * 1152 / 44100 * 1000)
    assert m["id3v2"] is False


def test_mp3_id3v2_skip_and_mono_mpeg2():
    data = encode_mp3_frames(
        n_frames=10, kbps=64, rate=22050, mono=True, mpeg2=True, id3v2_bytes=500
    )
    assert is_mp3(data)
    m = mp3_info(data)
    assert m["id3v2"] is True
    assert m["n_frames"] == 10 and m["n_channels"] == 1
    assert m["version"] == "2" and m["sample_rate"] == 22050
    # MPEG2 Layer III: 576 samples per frame
    assert m["duration_ms"] == pytest.approx(10 * 576 / 22050 * 1000)


def test_mp3_vbr_with_xing_frame_excluded():
    rates = [96, 128, 160, 128, 192] * 4
    data = encode_mp3_frames(n_frames=len(rates), kbps=rates, rate=44100, xing=True)
    m = mp3_info(data)
    assert m["n_frames"] == len(rates)  # the Xing frame is NOT counted
    assert m["vbr"] is True
    assert m["bitrate_kbps"] == pytest.approx(sum(rates) / len(rates))


def test_mp3_layer2_and_trailing_garbage_stops_cleanly():
    data = encode_mp3_frames(n_frames=5, kbps=192, rate=48000, layer=2)
    m = mp3_info(data + b"TAGsome-id3v1-style-trailer")
    assert m["n_frames"] == 5 and m["layer"] == 2
    assert m["duration_ms"] == pytest.approx(5 * 1152 / 48000 * 1000)


def test_mp3_rejects_non_mp3():
    with pytest.raises(ValueError):
        mp3_info(b"definitely not audio")
    assert not is_mp3(b"RIFFxxxxWAVE")


def test_wav_info_matches_decode_metadata():
    samples = (np.sin(np.arange(8000) / 7) * 12000).astype(np.int16).reshape(-1, 2)
    data = encode_wav(samples, 16000)
    w = wav_info(data)
    assert w["n_samples"] == 4000 and w["sample_rate"] == 16000
    assert w["n_channels"] == 2 and w["bits"] == 16
    assert w["duration_ms"] == pytest.approx(250.0)


def test_extract_audio_metadata_spark(spark):
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_metadata,
    )

    wav = encode_wav(np.zeros((1600, 1), dtype=np.int16), 16000)
    mp3 = encode_mp3_frames(n_frames=20, kbps=128, rate=44100)
    mp3_tagged = encode_mp3_frames(n_frames=4, kbps=64, rate=22050, mpeg2=True, id3v2_bytes=64)
    rows = [
        (0, bytearray(wav), ("audio/wav", len(wav), "a.wav")),
        (1, bytearray(mp3), ("audio/mpeg", len(mp3), "b.mp3")),
        (2, bytearray(mp3_tagged), ("audio/mpeg", len(mp3_tagged), "c.mp3")),
        (3, bytearray(b"not audio at all"), ("text/plain", 16, "d.txt")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in extract_audio_metadata(media).collect()}
    assert got[0].container == "wav" and got[0].duration_ms == pytest.approx(100.0)
    assert got[1].container == "mp3" and got[1].sample_rate == 44100
    assert got[1].duration_ms == pytest.approx(20 * 1152 / 44100 * 1000)
    assert got[2].container == "mp3" and got[2].n_channels == 2
    assert got[3].container is None and got[3].decode_error
    with pytest.raises(Exception, match="WAV, AIFF, FLAC, Ogg"):
        extract_audio_metadata(media, errors="raise").collect()


def test_flac_streaminfo_hand_expected():
    from pg2kinesis_spark.functions.codecs import encode_flac_streaminfo, flac_info

    data = encode_flac_streaminfo(
        rate=48000, channels=1, bits=24, n_samples=96000
    )
    info = flac_info(data)
    assert info["sample_rate"] == 48000
    assert info["n_channels"] == 1
    assert info["bits"] == 24
    assert info["n_samples"] == 96000
    assert info["duration_ms"] == pytest.approx(2000.0)
    # extra metadata blocks after STREAMINFO don't disturb the parse
    info2 = flac_info(encode_flac_streaminfo(extra_blocks=2))
    assert info2["sample_rate"] == 44100 and info2["n_channels"] == 2
    # a 36-bit total-sample count round-trips (the >32-bit field)
    big = flac_info(encode_flac_streaminfo(n_samples=(1 << 35) + 7))
    assert big["n_samples"] == (1 << 35) + 7


def test_flac_rejects_bad_structure():
    from pg2kinesis_spark.functions.codecs import encode_flac_streaminfo, flac_info

    with pytest.raises(ValueError, match="magic"):
        flac_info(b"NOPE" + bytes(64))
    with pytest.raises(ValueError, match="STREAMINFO"):
        flac_info(b"fLaC" + bytes(10))  # truncated
    good = bytearray(encode_flac_streaminfo())
    good[4] = (good[4] & 0x80) | 1  # first block claims PADDING, not STREAMINFO
    with pytest.raises(ValueError, match="STREAMINFO"):
        flac_info(bytes(good))
    zero_rate = bytearray(encode_flac_streaminfo(rate=1))
    # stomp the rate bits to zero: bytes 18..20 hold the top of the
    # packed field; easier to rebuild via encoder internals
    from pg2kinesis_spark.functions import codecs as C
    bad = bytearray(C.encode_flac_streaminfo())
    packed = (0 << 44) | (1 << 41) | (15 << 36) | 1000
    bad[18:26] = packed.to_bytes(8, "big")
    with pytest.raises(ValueError, match="zero sample rate"):
        flac_info(bytes(bad))
    _ = zero_rate


def test_spark_audio_metadata_over_flac(spark):
    from pg2kinesis_spark.functions.codecs import encode_flac_streaminfo
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_metadata,
    )

    rows = [
        (0, bytearray(encode_flac_streaminfo(rate=32000, channels=2,
                                             n_samples=64000)),
         ("audio/flac", 0, "mem://a.flac")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    r = extract_audio_metadata(media).collect()[0]
    assert r.container == "flac"
    assert r.sample_rate == 32000 and r.n_channels == 2
    assert r.duration_ms == pytest.approx(2000.0)
    assert r.vbr is True and r.decode_error is None


def test_ogg_opus_and_vorbis_hand_expected():
    from pg2kinesis_spark.functions.codecs import encode_ogg_pages, ogg_info

    op = ogg_info(encode_ogg_pages("opus", rate=48000, channels=2,
                                   n_samples=96000, pre_skip=312))
    assert op["codec"] == "opus"
    assert op["sample_rate"] == 48000 and op["n_channels"] == 2
    # Opus granules run at 48 kHz; pre-skip samples don't count
    assert op["duration_ms"] == pytest.approx(2000.0)
    vo = ogg_info(encode_ogg_pages("vorbis", rate=22050, channels=1,
                                   n_samples=44100))
    assert vo["codec"] == "vorbis"
    assert vo["sample_rate"] == 22050 and vo["n_channels"] == 1
    assert vo["duration_ms"] == pytest.approx(2000.0)


def test_ogg_rejects_bad_structure():
    import struct

    from pg2kinesis_spark.functions.codecs import encode_ogg_pages, ogg_info

    with pytest.raises(ValueError, match="OggS"):
        ogg_info(b"NotOgg" + bytes(30))
    good = encode_ogg_pages()
    with pytest.raises(ValueError, match="truncated"):
        ogg_info(good[:40])
    # first packet neither OpusHead nor vorbis (CRC zeroed: the
    # structure error must surface, not the checksum)
    weird = bytearray(good[:26] + bytes([1, 8]) + b"XXXXXXXX")
    weird[22:26] = bytes(4)
    with pytest.raises(ValueError, match="unrecognized"):
        ogg_info(bytes(weird))
    # trailing garbage after valid pages ends the walk, not the parse
    ok = ogg_info(good + b"garbage tail bytes")
    assert ok["codec"] == "opus"
    _ = struct


def test_spark_audio_metadata_over_ogg(spark):
    from pg2kinesis_spark.functions.codecs import encode_ogg_pages
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_metadata,
    )

    rows = [
        (0, bytearray(encode_ogg_pages("vorbis", rate=16000, channels=2,
                                       n_samples=32000)),
         ("audio/ogg", 0, "mem://v.ogg")),
    ]
    r = extract_audio_metadata(
        spark.createDataFrame(rows, MEDIA_SCHEMA)
    ).collect()[0]
    assert r.container == "ogg/vorbis"
    assert r.sample_rate == 16000
    assert r.duration_ms == pytest.approx(2000.0)
    assert r.decode_error is None


def test_adts_aac_hand_expected():
    """ADTS header walk: encoder-parameter arithmetic for duration
    (1024 samples/block), container-mean bitrate, profile/version, and
    the honest NULL for channel_configuration 0 (in-band PCE)."""
    from pg2kinesis_spark.functions.codecs import (
        aac_info,
        encode_adts_frames,
        is_adts_aac,
    )

    a = encode_adts_frames(40, rate=44100, channels=2, frame_bytes=300)
    assert is_adts_aac(a)
    i = aac_info(a)
    assert (i["n_frames"], i["sample_rate"], i["n_channels"]) == (40, 44100, 2)
    assert i["duration_ms"] == pytest.approx(40 * 1024 / 44100 * 1000)
    dur_s = 40 * 1024 / 44100
    assert i["bitrate_kbps"] == pytest.approx(40 * 300 * 8 / dur_s / 1000)
    assert (i["profile"], i["version"], i["id3v2"]) == ("LC", "4", False)
    # CRC headers, MPEG-2 ID, ID3v2 skip, PCE channel config -> NULL
    b = encode_adts_frames(
        5, rate=22050, channels=0, frame_bytes=120,
        mpeg2=True, crc=True, id3v2_bytes=32,
    )
    j = aac_info(b)
    assert (j["n_frames"], j["sample_rate"], j["n_channels"]) == (5, 22050, None)
    assert (j["version"], j["id3v2"]) == ("2", True)
    # variable frame sizes average correctly
    v = encode_adts_frames(3, frame_bytes=[100, 200, 300])
    assert aac_info(v)["bitrate_kbps"] == pytest.approx(
        600 * 8 / (3 * 1024 / 44100) / 1000
    )


def test_adts_and_mp3_syncs_never_cross_claim():
    """ADTS uses the layer bits RESERVED in MPEG audio: neither sniffer
    can claim the other's stream, and trailing garbage ends the walk."""
    from pg2kinesis_spark.functions.codecs import (
        aac_info,
        encode_adts_frames,
        encode_mp3_frames,
        is_adts_aac,
        is_mp3,
        mp3_info,
    )

    a = encode_adts_frames(8)
    m = encode_mp3_frames(8, kbps=128)
    assert is_adts_aac(a) and not is_mp3(a)
    assert is_mp3(m) and not is_adts_aac(m)
    with pytest.raises(ValueError):
        aac_info(m)
    with pytest.raises(ValueError):
        mp3_info(a)
    # trailing garbage after valid frames: walk stops, count unchanged
    assert aac_info(a + b"\x00garbage")["n_frames"] == 8


def test_adts_hostile_is_bounded():
    from pg2kinesis_spark.functions.codecs import aac_info, encode_adts_frames

    good = encode_adts_frames(4, frame_bytes=64)
    with pytest.raises(ValueError):
        aac_info(good[:5])  # below one header
    # stomped frame length pointing past EOF: walk stops at the stomp
    bad = bytearray(good)
    bad[64 + 3] |= 0x03  # max out the high frame-length bits of frame 2
    assert aac_info(bytes(bad))["n_frames"] == 1
    # reserved sampling index ends the walk
    bad2 = bytearray(good)
    bad2[64 + 2] = (bad2[64 + 2] & 0xC3) | (13 << 2)
    assert aac_info(bytes(bad2))["n_frames"] == 1


def test_spark_audio_metadata_covers_aac(spark):
    from pg2kinesis_spark.functions.codecs import encode_adts_frames
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_metadata,
    )

    a = encode_adts_frames(20, rate=48000, channels=1, frame_bytes=250)
    media = spark.createDataFrame(
        [(0, bytearray(a), ("audio/aac", len(a), "mem://x.aac"))], MEDIA_SCHEMA
    )
    r = extract_audio_metadata(media).collect()[0]
    assert r.container == "aac" and r.sample_rate == 48000 and r.n_channels == 1
    assert r.vbr is True and r.decode_error is None
    assert r.duration_ms == pytest.approx(20 * 1024 / 48000 * 1000)


def test_spark_audio_metadata_covers_m4a(spark):
    """Audio-only ISO BMFF (M4A) routes through the audio-metadata tier
    with rate/channels from the stsd sample entry; an MP4 WITH video
    keeps refusing here (it belongs to the video tier)."""
    from pg2kinesis_spark.functions.codecs import encode_mp4_skeleton
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_metadata,
    )

    m4a = encode_mp4_skeleton(video_codec=None, brand=b"M4A ", duration_s=30.0)
    vid = encode_mp4_skeleton()
    media = spark.createDataFrame(
        [(0, bytearray(m4a), ("audio/mp4", len(m4a), "mem://x.m4a")),
         (1, bytearray(vid), ("video/mp4", len(vid), "mem://x.mp4"))],
        MEDIA_SCHEMA,
    )
    got = {r.media_id: r for r in extract_audio_metadata(media).collect()}
    assert got[0].container == "m4a/mp4a"
    assert got[0].sample_rate == 44100 and got[0].n_channels == 2
    assert got[0].duration_ms == pytest.approx(30000.0)
    assert got[0].decode_error is None
    assert got[1].container is None and "audio metadata" in got[1].decode_error


def test_fuzz_adts_walk():
    from tests.test_codec_fuzz import _hammer

    from pg2kinesis_spark.functions.codecs import aac_info, encode_adts_frames

    corpus = [
        encode_adts_frames(10, frame_bytes=128),
        encode_adts_frames(6, rate=22050, mpeg2=True, crc=True, frame_bytes=[64, 96, 64, 96, 64, 96]),
    ]
    _hammer(aac_info, corpus, seed=52)


def test_ogg_page_crc_verified():
    """RFC 3533 CRC-32 (poly 0x04C11DB7, unreflected, init/xor 0): the
    fixture encoder now writes real page CRCs, a flipped payload byte
    refuses, and legacy zero-CRC pages stay lenient (the committed
    truth-table fixtures predate CRC emission). Table pinned against
    an independent bit-at-a-time computation."""
    from pg2kinesis_spark.functions.codecs import (
        _ogg_page_crc,
        encode_ogg_pages,
        ogg_info,
        ogg_tags,
    )

    og = encode_ogg_pages("vorbis", tags={"title": "t"})
    assert ogg_info(og)["codec"] == "vorbis"
    assert ogg_tags(og)["title"] == "t"
    bad = bytearray(og)
    bad[30] ^= 0x01  # inside the FIRST page's payload (both walks visit it)
    with pytest.raises(ValueError, match="CRC-32"):
        ogg_info(bytes(bad))
    with pytest.raises(ValueError, match="CRC-32"):
        ogg_tags(bytes(bad))
    # zero-CRC pages walk unchecked (leniency for CRC-skipping writers)
    legacy = bytearray(encode_ogg_pages("opus"))
    p = 0
    while p < len(legacy):
        ns = legacy[p + 26]
        size = sum(legacy[p + 27 : p + 27 + ns])
        legacy[p + 22 : p + 26] = bytes(4)
        p += 27 + ns + size
    assert ogg_info(bytes(legacy))["codec"] == "opus"

    def bitcrc(d):
        r = 0
        for b in d:
            r ^= b << 24
            for _ in range(8):
                r = ((r << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if r & 0x80000000 \
                    else (r << 1) & 0xFFFFFFFF
        return r

    probe = bytes(bytearray(og[:64]))
    assert _ogg_page_crc(probe) == bitcrc(probe)


# --- AAC global_gain energy proxy (round 8) --------------------------------

def test_aac_global_gains_round_trip():
    """encode_adts_frames(gains=...) plants per-frame energies in a real
    first syntactic element (SCE mono / CPE common_window=0 stereo);
    aac_global_gains must recover the quantized values exactly, for
    both layouts, and a half-volume copy must shift uniformly."""
    from pg2kinesis_spark.functions.codecs import (
        aac_global_gains,
        encode_adts_frames,
    )

    env = 2.0 ** np.random.default_rng(1).uniform(2, 10, size=70)
    q = 2.0 ** (np.round(4 * np.log2(env)) / 4.0)
    for ch in (1, 2):
        aac = encode_adts_frames(70, rate=32000, channels=ch,
                                 frame_bytes=64, gains=env)
        assert np.allclose(aac_global_gains(aac), q)
        half = aac_global_gains(
            encode_adts_frames(70, rate=32000, channels=ch,
                               frame_bytes=64, gains=env * 0.5)
        )
        r = half / q
        assert np.allclose(r, r[0])  # uniform -8 gain-code shift


def _adts_frame_with_payload(payload: bytes, channels: int = 2) -> bytes:
    """One ADTS LC frame wrapping hand-packed payload bits."""
    from pg2kinesis_spark.functions.codecs import encode_adts_frames

    flen = 7 + len(payload)
    frame = bytearray(
        encode_adts_frames(1, rate=44100, channels=channels,
                           frame_bytes=flen)[:7]
    ) + payload
    frame[3] = (frame[3] & 0xFC) | ((flen >> 11) & 3)
    frame[4] = (flen >> 3) & 0xFF
    frame[5] = ((flen & 7) << 5) | 0x1F
    return bytes(frame)


def _pack_bits(bits: str) -> bytes:
    pad = (8 - len(bits) % 8) % 8
    return int(bits + "0" * pad, 2).to_bytes((len(bits) + pad) // 8, "big")


def test_aac_global_gain_cpe_common_window():
    """Hand-packed spec-form oracle for the common_window=1 path: the
    shared ics_info (long window, max_sfb=2) and the ms_used flags must
    be stepped over to reach channel 0's global_gain (ISO 14496-3
    §4.4.2.1). EIGHT_SHORT grouping changes the ms_used count."""
    from pg2kinesis_spark.functions.codecs import aac_global_gains

    # long window: [id 001][tag 0000][cw 1][res 0][wseq 00][shape 0]
    # [max_sfb 000010][pred 0][ms_mask 01][ms_used 2 bits][gg 10000100]
    long_w = "001" + "0000" + "1" + "0" + "00" + "0" + "000010" + "0" \
        + "01" + "11" + format(132, "08b")
    got = aac_global_gains(_adts_frame_with_payload(_pack_bits(long_w)))
    assert got.tolist() == [2.0 ** ((132 - 100) / 4)]
    # EIGHT_SHORT: wseq 10, max_sfb(4)=2, grouping 0101010 -> 5 groups,
    # ms_used = 5*2 = 10 bits
    short_w = "001" + "0000" + "1" + "0" + "10" + "0" + "0010" + "0101010" \
        + "01" + "1" * 10 + format(116, "08b")
    got = aac_global_gains(_adts_frame_with_payload(_pack_bits(short_w)))
    assert got.tolist() == [2.0 ** ((116 - 100) / 4)]


def test_aac_global_gain_refusals():
    from pg2kinesis_spark.functions.codecs import (
        aac_global_gains,
        encode_adts_frames,
    )

    # Main profile (0) refuses
    with pytest.raises(NotImplementedError, match="profile"):
        aac_global_gains(
            encode_adts_frames(3, rate=44100, channels=2,
                               frame_bytes=32, profile=0)
        )
    # a TRUNCATED PCE (round 9 walks full ones) exhausts honestly
    pce = _adts_frame_with_payload(_pack_bits("101" + "0" * 13))
    with pytest.raises(ValueError, match="exhausted"):
        aac_global_gains(pce)
    # a CCE-led raw data block (element id 2, channel coupling) refuses
    cce = _adts_frame_with_payload(_pack_bits("010" + "0" * 13))
    with pytest.raises(NotImplementedError, match="CCE"):
        aac_global_gains(cce)
    # predictor_data_present in the shared ics_info refuses
    pred = "001" + "0000" + "1" + "0" + "00" + "0" + "000010" + "1" + "0" * 16
    with pytest.raises(NotImplementedError, match="predictor"):
        aac_global_gains(_adts_frame_with_payload(_pack_bits(pred)))
    # garbage is a ValueError, not a hang
    with pytest.raises(ValueError):
        aac_global_gains(b"\x00" * 40)


def test_aac_fingerprint_planted_pairs(spark):
    """The planted-pair truth for AAC: half-volume and re-encoded
    (jittered) copies pair in media_near_dup_pairs(signature='audio');
    an independent envelope separates; a Main-profile stream
    quarantines."""
    from pg2kinesis_spark.functions.codecs import encode_adts_frames
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        audio_fingerprint,
        media_near_dup_pairs,
    )

    rng = np.random.default_rng(8)
    env = 2.0 ** rng.uniform(3, 11, size=80)
    other = 2.0 ** rng.uniform(3, 11, size=80)
    jitter = env * rng.uniform(0.93, 1.07, size=80)
    mk = lambda e, **kw: encode_adts_frames(
        len(e), rate=32000, channels=2, frame_bytes=64, gains=e, **kw
    )
    blobs = [mk(env), mk(env * 0.5), mk(jitter), mk(other),
             mk(env, profile=0)]
    rows = [
        (i, bytearray(b), ("audio/aac", len(b), f"mem://{i}.aac"))
        for i, b in enumerate(blobs)
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    fps = {r["media_id"]: r for r in audio_fingerprint(media).collect()}
    assert fps[4]["afp"] is None and "profile" in fps[4]["decode_error"]
    mask = (1 << 64) - 1

    def ham(a, b):
        return bin((fps[a]["afp"] ^ fps[b]["afp"]) & mask).count("1")

    assert ham(0, 1) == 0 and ham(0, 2) <= 4 and ham(0, 3) > 8
    pairs = media_near_dup_pairs(media, max_hamming=4,
                                 signature="audio").collect()
    got = {(r["media_id1"], r["media_id2"]) for r in pairs}
    assert (0, 1) in got and (0, 2) in got
    assert not any(3 in p or 4 in p for p in got)


def test_fuzz_aac_gain_walk():
    from tests.test_codec_fuzz import _hammer

    from pg2kinesis_spark.functions.codecs import (
        aac_global_gains,
        encode_adts_frames,
    )

    rng = np.random.default_rng(6)
    corpus = [
        encode_adts_frames(40, rate=32000, channels=ch, frame_bytes=48,
                           gains=2.0 ** rng.uniform(2, 10, size=40))
        for ch in (1, 2)
    ]
    _hammer(aac_global_gains, corpus, seed=9)


# --- M4A (AAC in MP4) gain walk (round 8) -----------------------------------

def test_m4a_gains_round_trip_and_adts_identity():
    """encode_m4a_envelope writes real sample tables over raw SCE/CPE
    access units; m4a_aac_gains must recover the quantized energies
    exactly — and equal the ADTS walk's gains for the same envelope
    (an ADTS stream and its M4A remux fingerprint identically)."""
    from pg2kinesis_spark.functions.codecs import (
        aac_global_gains,
        encode_adts_frames,
        encode_m4a_envelope,
        m4a_aac_gains,
        mp4_info,
        mp4_tags,
    )

    env = 2.0 ** np.random.default_rng(2).uniform(3, 11, size=70)
    q = 2.0 ** (np.round(4 * np.log2(env)) / 4.0)
    for ch in (1, 2):
        m4a = encode_m4a_envelope(env, channels=ch, tags={"title": "T"})
        assert np.allclose(m4a_aac_gains(m4a), q)
        info = mp4_info(m4a)  # the metadata walk sees the same file
        assert info["audio_codec"] == "mp4a" and info["audio_channels"] == ch
        assert mp4_tags(m4a) == {"title": "T"}
    adts = encode_adts_frames(70, rate=44100, channels=1, frame_bytes=64,
                              gains=env)
    assert np.array_equal(
        aac_global_gains(adts),
        m4a_aac_gains(encode_m4a_envelope(env, channels=1)),
    )


def test_m4a_gain_refusals():
    from pg2kinesis_spark.functions.codecs import (
        encode_m4a_envelope,
        encode_mp4_skeleton,
        m4a_aac_gains,
    )

    with pytest.raises(NotImplementedError, match="video"):
        m4a_aac_gains(encode_mp4_skeleton())  # video-bearing MP4
    # non-LC AudioSpecificConfig: patch the ASC's AOT bits (2 -> 5/SBR)
    m4a = bytearray(encode_m4a_envelope([4.0, 8.0]))
    at = m4a.index(b"esds")
    # ASC is the 2 bytes after the 0x05 descriptor tag + length
    dsi = m4a.index(b"\x05\x02", at)
    m4a[dsi + 2] = (5 << 3) | (m4a[dsi + 2] & 0x07)
    with pytest.raises(NotImplementedError, match="AOT"):
        m4a_aac_gains(bytes(m4a))
    # stsc whose first run starts past chunk 1 would misalign every
    # chunk's sample count — refuse, don't walk wrong offsets (ADVICE r8)
    m4a = bytearray(encode_m4a_envelope([4.0, 8.0]))
    at = m4a.index(b"stsc") + 4 + 4 + 4  # type, ver/flags, entry_count
    assert m4a[at : at + 4] == b"\x00\x00\x00\x01"
    m4a[at + 3] = 2
    with pytest.raises(ValueError, match="chunk 2, not 1"):
        m4a_aac_gains(bytes(m4a))
    with pytest.raises(ValueError):
        m4a_aac_gains(b"\x00" * 40)


def test_m4a_fingerprint_cross_container_identity(spark):
    """An ADTS AAC stream and its M4A remux (same envelope) pair at
    hamming 0 in the audio fingerprint — cross-container identity, the
    AAC analogue of the WAV==FLAC losslessness contract."""
    from pg2kinesis_spark.functions.codecs import (
        encode_adts_frames,
        encode_m4a_envelope,
    )
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        audio_fingerprint,
    )

    rng = np.random.default_rng(4)
    env = 2.0 ** rng.uniform(3, 11, size=80)
    adts = encode_adts_frames(80, rate=44100, channels=1, frame_bytes=64,
                              gains=env)
    m4a = encode_m4a_envelope(env, channels=1)
    rows = [
        (0, bytearray(adts), ("audio/aac", len(adts), "mem://0.aac")),
        (1, bytearray(m4a), ("audio/mp4", len(m4a), "mem://1.m4a")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    fps = {r["media_id"]: r["afp"] for r in audio_fingerprint(media).collect()}
    assert fps[0] == fps[1] and fps[0] is not None


def test_fuzz_m4a_gain_walk():
    from tests.test_codec_fuzz import _hammer

    from pg2kinesis_spark.functions.codecs import (
        encode_m4a_envelope,
        m4a_aac_gains,
    )

    rng = np.random.default_rng(7)
    corpus = [
        encode_m4a_envelope(2.0 ** rng.uniform(2, 10, size=30), channels=ch)
        for ch in (1, 2)
    ]
    _hammer(m4a_aac_gains, corpus, seed=15)


# --- in-band PCE for channel_config 0 (round 9) ------------------------------


def test_pce_channel_layouts_and_gain_walk():
    """channel_config-0 streams (broadcast layouts): the PCE walk
    yields the program's output channel count (CPE=2, SCE/LFE=1) in
    aac_info, and the gain walk steps OVER the PCE to the first audio
    element — a PCE-led stream and its plain twin carry identical
    envelopes."""
    import numpy as np

    from pg2kinesis_spark.functions.codecs import (
        aac_global_gains,
        aac_info,
        encode_adts_frames,
    )

    env = 2.0 ** np.linspace(2, 8, 40)
    for layout, want in (("mono", 1), ("stereo", 2), ("5.1", 6)):
        a = encode_adts_frames(40, frame_bytes=64, gains=env, pce_layout=layout)
        assert aac_info(a)["n_channels"] == want, layout
        plain = encode_adts_frames(
            40, frame_bytes=64, gains=env,
            channels=1 if layout == "mono" else 2,
        )
        assert np.array_equal(aac_global_gains(a), aac_global_gains(plain))
    # cfg-0 without a parsable PCE keeps the honest NULL
    bare = encode_adts_frames(5, channels=0, frame_bytes=32)
    assert aac_info(bare)["n_channels"] is None


def test_dse_and_fil_lead_elements_are_walked():
    """DSE and FIL elements before the first audio element skip by
    their own length fields (both are skippable by construction);
    the gain lands on the SCE behind them."""
    from pg2kinesis_spark.functions.codecs import aac_global_gains

    # DSE: id 100, tag 0000, align 0, count 2, 2 data bytes;
    # FIL: id 110, count 1, 1 byte; then SCE id 000 tag 0000 gg=132
    bits = (
        "100" + "0000" + "0" + "00000010" + "10101010" * 2
        + "110" + "0001" + "11110000"
        + "000" + "0000" + format(132, "08b")
    )
    frame = _adts_frame_with_payload(_pack_bits(bits))
    got = aac_global_gains(frame)
    assert len(got) == 1 and got[0] == 2.0 ** ((132 - 100) / 4.0)
