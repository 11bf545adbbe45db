"""SQL gold surface over the star schema built from fixtures."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from wistia_video_analytics_project_spark import schemas, sql
from wistia_video_analytics_project_spark.operators import model
from wistia_video_analytics_project_spark.sources import readers

RUN_TS = dt.datetime(2024, 6, 1)


@pytest.fixture(scope="module")
def star(spark):
    ev = lambda t: {"type": "play", "time": t, "duration_watched": 30.0,
                    "percent_watched": 60.0}
    day1, day2 = 1704067200, 1704153600
    media = spark.createDataFrame(
        [("m1", "YouTube intro", 1700000000), ("m2", "plain video", 1700000100)],
        schemas.RAW_MEDIA,
    )
    visitors = spark.createDataFrame(
        [
            ("v1", "1.1.1.1", "US", "m1", [ev(day1), ev(day1 + 60)]),
            ("v2", "2.2.2.2", "DE", "m1", [ev(day2)]),
            ("v1", "1.1.1.1", "US", "m2", [ev(day2)]),
        ],
        schemas.RAW_VISITOR,
    )
    dm = model.build_dim_media(media, RUN_TS)
    dv = model.build_dim_visitor(visitors, RUN_TS)
    fact = model.build_fact_engagement(visitors, RUN_TS)
    sql.register_star_schema(spark, dm, dv, fact)
    yield dm, dv, fact
    for name in sql.STAR_VIEWS:
        spark.catalog.dropTempView(name)


def test_gold_kpis(spark, star):
    assert sql.run_gold(spark, "total_plays").collect()[0].total_plays == 4
    assert sql.run_gold(spark, "avg_completion").collect()[0].avg_completion == 60.0
    hours = sql.run_gold(spark, "total_watch_hours").collect()[0].total_watch_hours
    assert hours == round(4 * 30.0 / 3600.0, 2)
    rate = sql.run_gold(spark, "engagement_rate").collect()[0].engagement_rate
    assert rate == round(4 / 2.0, 4)  # 4 plays / 2 distinct visitors


def test_gold_slices(spark, star):
    channels = {r.channel: r.n_videos
                for r in sql.run_gold(spark, "videos_by_channel").collect()}
    assert channels == {"YouTube": 1, "Wistia": 1}
    top = sql.run_gold(spark, "top10_videos").collect()
    assert top[0].media_id == "m1" and top[0].plays == 3
    trend = sql.run_gold(spark, "daily_plays_trend").collect()
    assert [(str(r.date), r.plays) for r in trend] == [
        ("2024-01-01", 2), ("2024-01-02", 2)]
    nvr = {(str(r.date), r.visitor_status): r.visitors
           for r in sql.run_gold(spark, "new_vs_returning").collect()}
    assert nvr == {("2024-01-01", "new"): 1, ("2024-01-02", "new"): 1,
                   ("2024-01-02", "returning"): 1}


def test_all_gold_queries_run(spark, star):
    for name in sql.GOLD_QUERIES:
        assert sql.run_gold(spark, name).collect() is not None


def test_import_step_matches_plain_views(spark, silver_star, silver_frames):
    """The import step (coalesce + cache) returns the rows plain views
    over the same 30 date directories return, for every gold query."""
    assert len(os.listdir(silver_star["fact_engagement"])) >= 30
    for name, df in zip(sql.STAR_VIEWS, silver_frames):
        df.createOrReplaceTempView(name)
    plain = {q: sorted(sql.run_gold(spark, q).collect()) for q in sql.GOLD_QUERIES}
    assert not any(spark.catalog.isCached(n) for n in sql.STAR_VIEWS)
    sql.register_star_schema(spark, *silver_frames)
    assert all(spark.catalog.isCached(n) for n in sql.STAR_VIEWS)
    assert spark.table("fact_engagement").rdd.getNumPartitions() == 1
    for q in sql.GOLD_QUERIES:
        assert sorted(sql.run_gold(spark, q).collect()) == plain[q], q


def test_refresh_replaces_cached_views(spark, silver_star, silver_frames):
    """A refresh uncaches the views it replaces: after two refreshes,
    each followed by the whole dashboard, at most one cached relation
    per view is held."""
    for _ in range(2):
        frames = [readers.read_parquet(spark, silver_star[n]) for n in sql.STAR_VIEWS]
        sql.register_star_schema(spark, *frames)
        for q in sql.GOLD_QUERIES:
            sql.run_gold(spark, q).collect()
    cached = [i.name() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
              if any(n in i.name() for n in sql.STAR_VIEWS)]
    assert 0 < len(cached) <= 3, cached


def test_unsized_frame_keeps_partitions(spark, star):
    """A frame whose size Spark cannot estimate (an RDD-backed
    createDataFrame reports Long.MAX_VALUE) is cached with the
    partitions it has, not coalesced."""
    dm, dv, fact = star
    rdd = spark.sparkContext.parallelize(fact.collect(), 3)
    sql.register_star_schema(spark, dm, dv, spark.createDataFrame(rdd, fact.schema))
    assert spark.table("fact_engagement").rdd.getNumPartitions() == 3
    assert sql.run_gold(spark, "total_plays").collect()[0].total_plays == 4
