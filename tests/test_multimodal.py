"""Multimodal binary-column plumbing: payload metadata and the frame
grid, both Spark built-ins."""

from __future__ import annotations

import hashlib

import pytest

from wistia_video_analytics_project_spark import schemas
from wistia_video_analytics_project_spark.operators import multimodal


@pytest.fixture(scope="module")
def assets(spark):
    rows = [
        (1, "image", b"img-bytes-a", 640, 480, None, "png"),
        (2, "image", b"img-bytes-a", 640, 480, None, "png"),  # dup content
        (3, "audio", b"pcm-bytes", None, None, 2500, "opus"),
        (4, "video", b"h264-bytes", 1920, 1080, 3500, "h264"),
        (5, "video", None, None, None, 1000, "h264"),  # missing payload
    ]
    return spark.createDataFrame(rows, schemas.MEDIA_ASSETS)


def test_asset_metadata_hash_and_null(spark, assets):
    rows = {r.asset_id: r for r in multimodal.asset_metadata(assets).collect()}
    assert len(rows) == 5
    assert rows[1].content_sha256 == rows[2].content_sha256  # same bytes
    for i, payload in [(1, b"img-bytes-a"), (3, b"pcm-bytes"), (4, b"h264-bytes")]:
        assert rows[i].content_sha256 == hashlib.sha256(payload).hexdigest()
        assert rows[i].n_bytes == len(payload)
    # a missing payload has no length and no hash, like octet_length(NULL)
    assert rows[5].n_bytes is None and rows[5].content_sha256 is None
    again = {r.asset_id: r
             for r in multimodal.asset_metadata(assets.repartition(3)).collect()}
    assert again == rows


def test_sample_frames_grid(spark, assets):
    out = multimodal.sample_frames(assets, every_ms=1000)
    by_asset = {}
    for r in out.collect():
        by_asset.setdefault(r.asset_id, []).append(r.frame_ms)
    # only video assets; 3500ms -> frames at 0,1000,2000,3000
    assert sorted(by_asset) == [4, 5]
    assert sorted(by_asset[4]) == [0, 1000, 2000, 3000]
    assert sorted(by_asset[5]) == [0]
