"""Multimodal column operators: opaque binary payloads + typed metadata.

BASELINE.json extension tier. Images/audio/video travel through Spark as
``binary`` columns beside typed metadata (schemas.MEDIA_ASSETS) — never
as driver-side objects. Both operators are Spark built-ins: the payload
is measured and hashed JVM-side (:func:`asset_metadata`), and the
frame-sampling grid is planned from the metadata alone
(:func:`sample_frames`). No media codec runs here; decoding a payload
is a downstream consumer's job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def asset_metadata(assets: DataFrame) -> DataFrame:
    """Per-asset payload metadata: byte length and SHA-256 content hash.

    A null payload gives a null ``n_bytes`` and a null hash. Equal bytes
    give equal hashes, so ``content_sha256`` is a dedup key across
    assets.
    """
    return assets.select(
        "asset_id",
        "media_type",
        F.length("payload").alias("n_bytes"),
        F.sha2("payload", 256).alias("content_sha256"),
    )


def sample_frames(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plumbing for video payloads: one output row per
    sampled frame offset, metadata-driven (no decode needed to *plan*
    the sampling — duration_ms comes from the asset row).

    Pure built-ins: ``sequence`` + ``explode`` generate the frame grid
    JVM-side; the frames themselves are not decoded (no video codec).
    """
    return (
        assets.filter(F.col("media_type") == "video")
        .withColumn(
            "frame_ms",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.coalesce(F.col("duration_ms"), F.lit(0)) - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ),
        )
        .select("asset_id", "frame_ms", "payload")
    )
