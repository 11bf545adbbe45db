"""SQL gold surface over the star schema built from fixtures."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.errors import AnalysisException

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


#: Spark jobs per gold query over the imported star schema: one, plus
#: one for the broadcast of a dimension join
GOLD_JOBS = {q: 2 if "JOIN dim_" in text else 1 for q, text in sql.GOLD_QUERIES.items()}


def test_dashboard_job_budget(spark, silver_star, silver_frames):
    """A refresh (three silver reads and the import step) starts no Spark
    job. Once a first pass has filled the cache (a refresh over unchanged
    files keeps it), each gold query starts one job and a dimension join
    one more: 13 jobs a pass."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(fn) -> int:
        before = sched.nextJobId()
        fn()
        return sched.nextJobId() - before

    def refresh():
        frames = [readers.read_parquet(spark, silver_star[n]) for n in sql.STAR_VIEWS]
        sql.register_star_schema(spark, *frames)

    assert sum(v == 2 for v in GOLD_JOBS.values()) == 3
    refresh()
    for q in sql.GOLD_QUERIES:
        sql.run_gold(spark, q).collect()
    got = {"refresh": jobs(refresh)}
    got.update((q, jobs(lambda q=q: sql.run_gold(spark, q).collect())) for q in sql.GOLD_QUERIES)
    assert got == {"refresh": 0, **GOLD_JOBS}


def test_read_parquet_footer_schema_equals_inferred(spark, silver_star, tmp_path):
    """Without a schema, each silver table reads with the schema Spark's
    own inference gives (names, order, types, nullability), the fact's
    ``date`` partition column and its ``_SUCCESS`` marker included; a
    path with no data file or no path fails as a Spark read does."""
    assert os.path.exists(os.path.join(silver_star["fact_engagement"], "_SUCCESS"))
    for name, path in silver_star.items():
        assert readers.read_parquet(spark, path).schema == spark.read.parquet(path).schema, name
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").touch()
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        readers.read_parquet(spark, str(empty))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        readers.read_parquet(spark, str(tmp_path / "missing"))


#: ``new_vs_returning`` as a self-join of the fact to its first dates
SELF_JOIN_NEW_VS_RETURNING = (
    "WITH firsts AS (SELECT visitor_id, min(date) AS first_date "
    "                FROM fact_engagement GROUP BY visitor_id) "
    "SELECT f.date, "
    "       CASE WHEN f.date = x.first_date THEN 'new' ELSE 'returning' END "
    "         AS visitor_status, "
    "       count(DISTINCT f.visitor_id) AS visitors "
    "FROM fact_engagement f JOIN firsts x USING (visitor_id) "
    "GROUP BY 1, 2"
)


def test_new_vs_returning_window_equals_self_join(spark, silver_frames):
    """The window form returns the self-join's rows over the silver star
    schema and over a fact with NULL visitor ids and NULL dates."""
    def both():  # one row per (date, status), so sets lose nothing
        want = spark.sql(SELF_JOIN_NEW_VS_RETURNING).collect()
        got = sql.run_gold(spark, "new_vs_returning").collect()
        assert len(got) == len({tuple(r) for r in got})
        return {tuple(r) for r in got}, {tuple(r) for r in want}

    sql.register_star_schema(spark, *silver_frames)
    got, want = both()
    assert got == want and len(want) > 30
    d = [dt.date(2024, 1, day) for day in (1, 2, 3)]
    spark.createDataFrame(
        [("v1", d[0]), ("v1", d[1]), ("v2", d[1]), (None, d[0]), (None, d[2]),
         ("v3", None), ("v3", d[2]), ("v4", None)],
        "visitor_id string, date date",
    ).createOrReplaceTempView("fact_engagement")
    got, want = both()
    assert got == want
    assert (None, "returning", 2) in got and (d[2], "returning", 0) not in got
