"""Dirty-data contract for the media kernels: one corrupt, truncated,
or mislabeled row must route to the error channel — never kill the
batch (a task failure retries 4x then fails the whole 100 TB job)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pg2kinesis_spark.functions import multimodal
from pg2kinesis_spark.functions.codecs import (
    encode_avi_mjpeg,
    encode_jpeg,
    encode_png,
    encode_wav,
)
from pg2kinesis_spark.functions.multimodal import MEDIA_SCHEMA


def _rand_img(h, w, c, seed):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, c), dtype=np.uint8)


@pytest.fixture()
def dirty_media(spark):
    """3 good PNGs (0, 1 a near-copy of 0, 2 different) + a truncated
    PNG (3), mislabeled text bytes (4), and JPEG-magic garbage (5)."""
    base = _rand_img(16, 16, 3, seed=1)
    near = np.clip(base.astype(np.int16) + 3, 0, 255).astype(np.uint8)
    other = _rand_img(16, 16, 3, seed=9)
    good0, good1, good2 = encode_png(base), encode_png(near), encode_png(other)
    rows = [
        (0, bytearray(good0), ("image/png", len(good0), "mem://0")),
        (1, bytearray(good1), ("image/png", len(good1), "mem://1")),
        (2, bytearray(good2), ("image/png", len(good2), "mem://2")),
        (3, bytearray(good0[: len(good0) // 2]), ("image/png", 0, "mem://trunc")),
        (4, bytearray(b"just some scraped text bytes"), ("image/png", 0, "mem://lies")),
        (5, bytearray(b"\xff\xd8\xff\xe0 not a real jpeg"), ("image/jpeg", 0, "mem://garbage")),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_image_features_batch_survives_dirty_rows(spark, dirty_media):
    rows = {r.media_id: r for r in multimodal.extract_image_features(dirty_media).collect()}
    assert len(rows) == 6  # every row came back — the batch completed
    for mid in (0, 1, 2):
        assert rows[mid].decode_error is None
        assert (rows[mid].width, rows[mid].height) == (16, 16)
    for mid in (3, 4, 5):
        assert rows[mid].width is None and rows[mid].mean_luma is None
        assert rows[mid].decode_error  # the reason is preserved


def test_image_features_raise_mode_still_fail_stop(spark, dirty_media):
    with pytest.raises(Exception):
        multimodal.extract_image_features(dirty_media, errors="raise").collect()


def test_dhash_and_near_dup_route_around_dirty_rows(spark, dirty_media):
    h = {r.media_id: r for r in multimodal.media_dhash(dirty_media).collect()}
    assert h[0].dhash is not None and h[3].dhash is None and h[3].decode_error
    pairs = {
        (r.media_id1, r.media_id2)
        for r in multimodal.media_near_dup_pairs(
            dirty_media, signature="dhash", max_hamming=10
        ).collect()
    }
    assert (0, 1) in pairs  # the planted near-copy still found
    assert not any(3 in p or 4 in p or 5 in p for p in pairs)


def test_audio_and_video_kernels_route_dirty_rows(spark):
    samples = (np.sin(np.arange(4000) / 10) * 20000).astype(np.int16)[:, None]
    wav = encode_wav(samples, 16000)
    frames = [_rand_img(8, 8, 3, seed=i) for i in range(3)]
    avi = encode_avi_mjpeg(frames, fps=5, quality=92)
    rows = [
        (0, bytearray(wav), ("audio/wav", len(wav), "mem://w")),
        (1, bytearray(b"RIFFxxxxJUNKgarbage"), ("audio/wav", 0, "mem://jk")),
        (2, bytearray(avi), ("video/x-msvideo", len(avi), "mem://v")),
        (3, bytearray(avi[:40]), ("video/x-msvideo", 0, "mem://tv")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    af = {r.media_id: r for r in multimodal.extract_audio_features(media.filter(F.col("media_id") <= 1)).collect()}
    assert af[0].sample_rate == 16000 and af[0].decode_error is None
    assert af[1].sample_rate is None and af[1].decode_error
    fp = {r.media_id: r for r in multimodal.audio_fingerprint(media.filter(F.col("media_id") <= 1)).collect()}
    assert fp[0].afp is not None and fp[1].afp is None
    vids = media.filter(F.col("media_id") >= 2)
    vfeat = {r.media_id: r for r in multimodal.extract_video_features(vids).collect()}
    assert vfeat[2].n_frames == 3 and vfeat[2].decode_error is None
    assert vfeat[3].n_frames is None and vfeat[3].decode_error


def test_video_sampling_params_fail_fast(spark):
    """stride<=0 / max_frames<=0 must raise at operator construction —
    under errors='quarantine' the per-row slice error would otherwise
    silently label the entire corpus as decode failures."""
    import pytest

    from pg2kinesis_spark.functions import multimodal
    from pg2kinesis_spark.functions.multimodal import MEDIA_SCHEMA

    media = spark.createDataFrame([], MEDIA_SCHEMA)
    for kwargs in ({"stride": 0}, {"stride": -2}, {"max_frames": 0}):
        with pytest.raises(ValueError):
            multimodal.video_scene_cuts(media, **kwargs)
