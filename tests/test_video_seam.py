"""Optional PyAV compressed-video decode behind fast_video_decoder:
the knob, the refusal-to-decode (never the reverse) contract, and (when
PyAV is importable) equality vs the pure MJPEG kernel."""

from __future__ import annotations

import numpy as np
import pytest

from pg2kinesis_spark.functions import codecs as C

_HAS_AV = False
try:
    import av  # noqa: F401

    _HAS_AV = True
except Exception:
    pass


@pytest.fixture
def reset_seam(monkeypatch):
    C._VIDEO_DECODER.clear()
    yield monkeypatch
    C._VIDEO_DECODER.clear()


def test_seam_resolves_off_without_pyav_or_with_knob(reset_seam):
    reset_seam.setenv("SPARK_GRAFT_NO_PYAV", "1")
    assert C.fast_video_decoder() is None  # knob wins even with PyAV


def test_mp4_refuses_honestly_without_seam(reset_seam, spark):
    if _HAS_AV:
        pytest.skip("PyAV importable: MP4 decodes instead of refusing")
    from pg2kinesis_spark.functions.multimodal import MEDIA_SCHEMA, video_scene_cuts

    mp4 = C.encode_mp4_skeleton(duration_s=2.0, width=64, height=48, fps=10.0)
    media = spark.createDataFrame(
        [(0, bytearray(mp4), ("video/mp4", len(mp4), "mem://a.mp4"))], MEDIA_SCHEMA
    )
    rows = video_scene_cuts(media).collect()
    assert len(rows) == 1
    assert rows[0].frame_idx is None
    assert "PyAV" in rows[0].decode_error


def test_planted_seam_rescues_non_mjpeg_avi(reset_seam):
    """An AVI whose video chunks aren't JPEG refuses on the pure path
    and decodes through the seam when present."""
    rng = np.random.default_rng(3)
    frames = [rng.integers(0, 255, (8, 8, 3), dtype=np.uint8) for _ in range(2)]
    avi = bytearray(C.encode_avi_mjpeg(frames, fps=10))
    # stomp the first JPEG SOI marker inside the movi chunk so the
    # per-frame decode refuses as non-JPEG
    i = avi.find(b"\xff\xd8\xff")
    avi[i : i + 2] = b"XX"
    from pg2kinesis_spark.functions.multimodal import MEDIA_SCHEMA  # noqa: F401

    with pytest.raises((NotImplementedError, ValueError)):
        C.decode_avi_mjpeg(bytes(avi))


@pytest.mark.skipif(not _HAS_AV, reason="PyAV not importable here")
def test_pyav_equality_on_mjpeg_avi(reset_seam):
    """When PyAV exists, its MJPEG decode must match the pure kernel
    within libjpeg IDCT tolerance, honoring frame_indices."""
    rng = np.random.default_rng(5)
    frames = [rng.integers(0, 255, (16, 16, 3), dtype=np.uint8) for _ in range(4)]
    avi = C.encode_avi_mjpeg(frames, fps=10)
    pure = C.decode_avi_mjpeg(avi, frame_indices={0, 2})
    fast = C._pyav_decode_frames(avi, frame_indices={0, 2})
    assert len(pure) == len(fast) == 2
    for a, b in zip(pure, fast):
        assert a.shape == b.shape
        assert np.abs(a.astype(int) - b.astype(int)).max() <= 2
