"""Operator-cache registry: explicit lifetime for internal caches."""

from __future__ import annotations

from pyspark.sql import functions as F

from wistia_video_analytics_project_spark.cache import persist, release_caches

from conftest import SF_SMOKE


def test_release_caches_unpersists_tracked_frames(spark):
    df = persist(spark.range(100).withColumn("x", F.col("id") * 2))
    df.count()
    assert df.storageLevel.useMemory
    released = release_caches()
    assert released >= 1
    assert not df.storageLevel.useMemory


def test_operators_register_their_internal_caches(spark):
    """sliding_distinct caches its pairs frame internally — after the
    action, release_caches() must be able to free it (round-2 ADVICE:
    repeated calls in a long session leaked executor storage)."""
    from wistia_video_analytics_project_spark.operators import analytics

    release_caches()  # drain anything earlier tests left behind
    ev = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .select(
            F.col("o_custkey").alias("user"),
            F.to_date("o_orderdate").alias("day"),
        )
    )
    analytics.sliding_distinct(ev, "day", "user", window_days=7).count()
    assert release_caches() >= 1
    # idempotent: nothing left to release
    assert release_caches() == 0


def test_release_caches_survives_frames_with_no_other_reference(spark):
    """The registry must hold the frame strongly: the operator's local
    variable is gone by release time, but the JVM cache is not."""
    import gc

    persist(spark.range(10)).count()
    gc.collect()
    assert release_caches() == 1
