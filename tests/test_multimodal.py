"""Multimodal plumbing tests: schemas, mapInPandas batching, frame explode."""

import pytest
from pyspark.sql import functions as F

from engine.multimodal import (
    FEATURE_SCHEMA,
    extract_features,
    sample_frames,
    synthetic_media,
)


@pytest.fixture(scope="module")
def media(spark):
    return synthetic_media(spark, n=48, seed=5).repartition(4).cache()


def test_feature_extraction(media):
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 48
    assert feats.columns == ["media_id", "kind", "n_bytes", "sha256", "feature"]
    for r in rows:
        assert len(r["feature"]) == 16
        assert all(0.0 <= v <= 1.0 for v in r["feature"])
        assert len(r["sha256"]) == 64
    # deterministic: same payload → same feature
    again = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    first = {r["media_id"]: r["feature"] for r in rows}
    assert again == first


def test_frame_sampling(media):
    frames = sample_frames(media, every_ms=1000)
    rows = frames.collect()
    assert all(r["frame_ts_ms"] % 1000 == 0 for r in rows)
    n_videos = media.filter("kind = 'video'").count()
    assert frames.select("media_id").distinct().count() == n_videos
    # frame count per video == ceil(duration/1000)
    durs = {r["media_id"]: r["duration_ms"] for r in media.filter("kind='video'").collect()}
    per = {r["media_id"]: 0 for r in rows}
    for r in rows:
        per[r["media_id"]] += 1
    for mid, n in per.items():
        assert n == -(-durs[mid] // 1000)
