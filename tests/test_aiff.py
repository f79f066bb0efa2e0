"""AIFF/AIFC: big-endian IFF PCM (the WAV cousin Apple-side corpora
carry) — COMM 80-bit-extended-float rates, SSND offsets, the
little-endian 'sowt' AIFC variant, NAME/AUTH text chunks, and the
Spark audio operators dispatching on the FORM magic.

The stdlib ``aifc`` module was removed in Python 3.13, so the oracle
is the house pattern: a spec-packed fixture encoder + hand-built
chunks.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from pg2kinesis_spark.functions import codecs as C
from pg2kinesis_spark.functions.codecs import (
    aiff_info,
    aiff_tags,
    decode_aiff,
    encode_aiff,
)


def _pcm(n=4000, nch=2, seed=6):
    return np.random.RandomState(seed).randint(
        -20000, 20000, (n, nch)
    ).astype(np.int16)


@pytest.mark.parametrize("sowt", [False, True])
def test_roundtrip_and_info(sowt):
    pcm = _pcm()
    a = encode_aiff(pcm, 44100, sowt=sowt)
    dec, rate = decode_aiff(a)
    assert rate == 44100
    np.testing.assert_array_equal(dec, pcm)
    info = aiff_info(a)
    assert (info["n_channels"], info["bits"], info["n_samples"]) == (2, 16, 4000)
    assert info["compression"] == ("sowt" if sowt else "NONE")
    assert abs(info["duration_ms"] - 4000 / 44.1) < 0.1


def test_extended_float_rates():
    """The COMM rate is an 80-bit extended float; every common audio
    rate must survive the encode/parse round trip exactly."""
    pcm = _pcm(16)
    for r in (8000, 11025, 16000, 22050, 32000, 44100, 48000, 96000, 192000):
        assert aiff_info(encode_aiff(pcm, r))["sample_rate"] == r


def test_hand_packed_comm_and_ssnd():
    """Field-by-field AIFF (encoder not involved): mono 16-bit, 3
    samples, rate 8000 packed as 0x400B FA00...0000 (8000 = 0.9765625
    × 2^13)."""
    f80 = bytes.fromhex("400bfa0000000000000000")[:10]
    comm = struct.pack(">HIH", 1, 3, 16) + f80
    ssnd = struct.pack(">II", 0, 0) + struct.pack(">3h", -5, 0, 1234)
    body = (b"AIFF"
            + b"COMM" + struct.pack(">I", len(comm)) + comm
            + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd)
    blob = b"FORM" + struct.pack(">I", len(body)) + body
    info = aiff_info(blob)
    assert info["sample_rate"] == 8000 and info["n_samples"] == 3
    dec, rate = decode_aiff(blob)
    assert rate == 8000
    np.testing.assert_array_equal(dec[:, 0], [-5, 0, 1234])


def test_ssnd_offset_honored():
    pcm = _pcm(64, 1)
    a = bytearray(encode_aiff(pcm, 8000))
    # rebuild with a 4-byte SSND offset: payload shifts right 4
    i = a.find(b"SSND")
    (clen,) = struct.unpack(">I", a[i + 4 : i + 8])
    old = bytes(a[i + 8 : i + 8 + clen])
    new = struct.pack(">II", 4, 0) + bytes(4) + old[8:]
    blob = bytes(a[:i]) + b"SSND" + struct.pack(">I", len(new)) + new + bytes(
        a[i + 8 + clen :]
    )
    dec, _ = decode_aiff(blob)
    np.testing.assert_array_equal(dec, pcm)


def test_tags_and_refusals():
    pcm = _pcm(32)
    a = encode_aiff(pcm, 44100, tags={"title": "Aif T", "artist": "Aif A",
                                      "comment": "ann", "copyright": "c 99"})
    assert aiff_tags(a) == {"title": "Aif T", "artist": "Aif A",
                            "comment": "ann", "copyright": "c 99"}
    assert C.audio_tags(a)["title"] == "Aif T"
    assert aiff_tags(encode_aiff(pcm, 44100)) == {}
    with pytest.raises(ValueError):
        decode_aiff(b"FORM\x00\x00\x00\x04AIFF")  # no COMM/SSND
    with pytest.raises(ValueError):
        aiff_info(b"not aiff")
    # truncated COMM: ValueError, not struct.error
    bad = b"FORM" + struct.pack(">I", 16) + b"AIFFCOMM" + struct.pack(">I", 3) + b"\x00\x01\x02"
    with pytest.raises(ValueError):
        aiff_info(bad)
    # AIFC with an unsupported compressor refuses into quarantine
    a2 = bytearray(encode_aiff(pcm, 44100, sowt=True))
    j = a2.find(b"sowt")
    a2[j : j + 4] = b"ima4"
    with pytest.raises(NotImplementedError, match="ima4"):
        decode_aiff(bytes(a2))


def test_fuzz_aiff():
    from tests.test_codec_fuzz import _hammer

    corpus = [
        encode_aiff(_pcm(300), 44100, tags={"title": "f"}),
        encode_aiff(_pcm(300, 1), 22050, sowt=True),
    ]
    _hammer(decode_aiff, corpus, seed=51)


def test_spark_audio_operators_cover_aiff(spark):
    from pg2kinesis_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        audio_fingerprint,
        extract_audio_features,
        extract_audio_metadata,
    )

    pcm = _pcm(44100, seed=5)  # 1 s
    wav = C.encode_wav(pcm, 44100)
    aif = encode_aiff(pcm, 44100)
    rows = [
        (0, bytearray(wav), ("audio/wav", len(wav), "mem://w")),
        (1, bytearray(aif), ("audio/aiff", len(aif), "mem://a")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in extract_audio_features(media).collect()}
    assert feats[1].decode_error is None
    assert feats[0].rms == feats[1].rms  # same PCM, exactly
    meta = {r.media_id: r for r in extract_audio_metadata(media).collect()}
    assert meta[1].container == "aiff" and meta[1].sample_rate == 44100
    fps = {r.media_id: r.afp for r in audio_fingerprint(media).collect()}
    assert fps[0] is not None and fps[0] == fps[1]  # container-invariant


def test_hostile_extended_float_refuses():
    """Review finding (round 7): 15-bit exponents reach ~2^16k — far
    past float64 — and all-ones means Inf/NaN; both must surface as
    the walk's ValueError, never a raw OverflowError."""
    pcm = _pcm(8)
    for se in (0x7FFE, 0x7FFF, 0x6000):
        a = bytearray(encode_aiff(pcm, 44100))
        i = a.find(b"COMM") + 8 + 8  # f80 starts after nch/nframes/bits
        a[i : i + 2] = struct.pack(">H", se)
        with pytest.raises(ValueError):
            aiff_info(bytes(a))
