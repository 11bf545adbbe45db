"""Pipeline DAG: topology, success-edges, end-to-end star-schema run."""

from __future__ import annotations

import datetime as dt

import pytest

from wistia_video_analytics_project_spark import schemas
from wistia_video_analytics_project_spark.cache import release_caches
from wistia_video_analytics_project_spark.pipeline import (
    Pipeline,
    Stage,
    wistia_pipeline,
)

RUN_TS = dt.datetime(2024, 6, 1, 2, 0)


def test_toposort_and_cycle_detection():
    with pytest.raises(ValueError, match="declared earlier"):
        Pipeline([Stage("a", lambda c: None, ("b",)), Stage("b", lambda c: None, ("a",))])
    with pytest.raises(ValueError, match="unknown"):
        Pipeline([Stage("a", lambda c: None, ("ghost",))])
    with pytest.raises(ValueError, match="duplicate"):
        Pipeline([Stage("a", lambda c: None), Stage("a", lambda c: None)])


def test_failure_skips_dependents_but_not_siblings(spark):
    ran = []

    def ok(name):
        def f(ctx):
            ran.append(name)
            return None
        return f

    def boom(ctx):
        raise RuntimeError("ingest down")

    p = Pipeline(
        [
            Stage("good_root", ok("good_root")),
            Stage("bad_root", boom),
            Stage("child_of_bad", ok("child_of_bad"), ("bad_root",)),
            Stage("grandchild", ok("grandchild"), ("child_of_bad",)),
            Stage("child_of_good", ok("child_of_good"), ("good_root",)),
        ]
    )
    _, results = p.run(spark, RUN_TS)
    status = {r.name: r.status for r in results}
    assert status == {
        "good_root": "succeeded",
        "bad_root": "failed",
        "child_of_bad": "skipped",
        "grandchild": "skipped",
        "child_of_good": "succeeded",
    }
    assert "child_of_bad" not in ran


def test_wistia_pipeline_end_to_end(spark):
    media_rows = [("m1", "YouTube intro", 1700000000)]
    ev = {"type": "play", "time": 1704067200, "duration_watched": 10.0,
          "percent_watched": 50.0}
    visitor_rows = [("v1", "1.1.1.1", "US", "m1", [ev])]
    loaded: dict[str, int] = {}

    pipe = wistia_pipeline(
        raw_media=lambda ctx: ctx.spark.createDataFrame(media_rows, schemas.RAW_MEDIA),
        raw_visitors=lambda ctx: ctx.spark.createDataFrame(
            visitor_rows, schemas.RAW_VISITOR
        ),
        sink=lambda table, df, ctx: loaded.__setitem__(table, df.count()),
    )
    ctx, results = pipe.run(spark, RUN_TS)
    assert all(r.status == "succeeded" for r in results), results
    assert loaded == {"dim_media": 1, "dim_visitor": 1, "fact_engagement": 1}
    fact = ctx["fact_engagement"].collect()[0]
    assert fact.play_count == 1 and str(fact.date) == "2024-01-01"


def test_shared_stage_output_is_cached(spark):
    """A stage feeding two or more stages is cached; a single-consumer
    stage is not (``ingest_visitors`` feeds dim_visitor and the fact)."""
    ev = {"type": "play", "time": 1704067200, "duration_watched": 1.0,
          "percent_watched": 1.0}
    pipe = wistia_pipeline(
        raw_media=lambda ctx: ctx.spark.createDataFrame(
            [("m1", "intro", 1700000000)], schemas.RAW_MEDIA
        ),
        raw_visitors=lambda ctx: ctx.spark.createDataFrame(
            [("v1", "1.1.1.1", "US", "m1", [ev])], schemas.RAW_VISITOR
        ),
        sink=lambda table, df, ctx: None,
    )
    ctx, results = pipe.run(spark, RUN_TS)
    try:
        assert all(r.status == "succeeded" for r in results), results
        assert ctx.outputs["ingest_visitors"].is_cached
        assert not ctx.outputs["ingest_media"].is_cached
    finally:
        release_caches()
