"""SQL gold surface over the star schema built from fixtures."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
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


#: Spark jobs per gold query on its first run after a version change:
#: one, plus one for the broadcast of a dimension join
GOLD_JOBS = {q: 2 if "JOIN dim_" in text else 1 for q, text in sql.GOLD_QUERIES.items()}
#: the first query to read each view after a version change also runs
#: the job that fills its cache
CACHE_FILLERS = {next(q for q, text in sql.GOLD_QUERIES.items() if v in text)
                 for v in sql.STAR_VIEWS}


def test_dashboard_job_budget(spark, silver_star, silver_frames):
    """A refresh (three silver reads and the import step) starts no Spark
    job. The first pass after a version change starts one job per gold
    query, one more for each dimension join's broadcast and one more for
    each view's cache: 16 jobs. A refresh over unchanged files keeps the
    version, its cache, its prepared queries and their broadcasts, so a
    repeat pass runs the same query objects again, each with its one scan
    job: 10 jobs."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(fn) -> int:
        before = sched.nextJobId()
        fn()
        return sched.nextJobId() - before

    def refresh():
        frames = [readers.read_parquet(spark, silver_star[n]) for n in sql.STAR_VIEWS]
        sql.register_star_schema(spark, *frames)

    assert sum(v == 2 for v in GOLD_JOBS.values()) == 3 and len(CACHE_FILLERS) == 3
    for name in sql.STAR_VIEWS:  # whatever an earlier test registered
        spark.catalog.dropTempView(name)
    got = {"refresh": jobs(refresh)}
    prepared = {q: sql.run_gold(spark, q) for q in sql.GOLD_QUERIES}
    got.update((q, jobs(df.collect)) for q, df in prepared.items())
    assert got == {"refresh": 0, **{q: n + (q in CACHE_FILLERS) for q, n in GOLD_JOBS.items()}}
    got = {"refresh": jobs(refresh)}
    assert all(sql.run_gold(spark, q) is df for q, df in prepared.items())
    got.update((q, jobs(df.collect)) for q, df in prepared.items())
    assert got == {"refresh": 0, **dict.fromkeys(sql.GOLD_QUERIES, 1)}


def _write_star(spark, root, rows: int) -> None:
    """A star schema of ``rows`` rows a table under ``root``, one play per
    fact row, written by Spark."""
    ids = spark.range(rows)
    ids.selectExpr("concat('m', id) AS media_id", "'clip' AS title", "'Wistia' AS channel"
                   ).write.parquet(str(root / "dim_media"))
    ids.selectExpr("concat('v', id) AS visitor_id", "'US' AS country"
                   ).write.parquet(str(root / "dim_visitor"))
    ids.selectExpr("concat('m', id) AS media_id", "concat('v', id) AS visitor_id",
                   "DATE'2024-06-01' AS date", "1L AS play_count",
                   "60.0D AS total_watch_time_seconds", "50.0D AS avg_percent_watched",
                   ).write.parquet(str(root / "fact_engagement"))


@pytest.fixture
def tiny_star(spark, tmp_path):
    """A 5-row star schema under ``tmp_path / "live"`` -> (its root, a
    refresh that reads it into a session and registers it). The views the
    test registers in ``spark`` are dropped after it."""
    root = tmp_path / "live"
    _write_star(spark, root, 5)

    def refresh(session=spark):
        sql.register_star_schema(
            session, *(readers.read_parquet(session, str(root / n)) for n in sql.STAR_VIEWS))

    yield root, refresh
    for name in sql.STAR_VIEWS:
        spark.catalog.dropTempView(name)


def _total_plays(session) -> int:
    return sql.run_gold(session, "total_plays").collect()[0].total_plays


def test_refresh_sees_tables_moved_in_place(spark, tiny_star, tmp_path):
    """The three tables rewritten by Spark under other paths and moved in
    place: the views keep serving their snapshot until the next refresh,
    which serves the new rows (plan equality alone kept the old cache:
    a parquet relation's plan holds its root paths, not its files)."""
    root, refresh = tiny_star
    refresh()
    assert _total_plays(spark) == 5
    _write_star(spark, tmp_path / "next", 7)
    for name in sql.STAR_VIEWS:
        shutil.rmtree(root / name)
        shutil.move(tmp_path / "next" / name, root / name)
    assert _total_plays(spark) == 5
    refresh()
    assert _total_plays(spark) == 7
    assert sorted(sql.run_gold(spark, "top10_videos").collect())[-1].media_id == "m6"


def test_refresh_sees_same_name_rewrite(spark, tiny_star):
    """A fact file rewritten under its own name by another writer (its
    size and modification time change, its name does not) is read again
    by the next refresh."""
    root, refresh = tiny_star
    refresh()
    assert _total_plays(spark) == 5
    part = next(p for p in sorted((root / "fact_engagement").glob("part-*.parquet"))
                if pq.read_metadata(p).num_rows)
    table = pq.read_table(part)
    pq.write_table(pa.concat_tables([table, table]), part)
    # Hadoop's local file system checks a file against its ``.crc``
    # sidecar, which the other writer does not rewrite
    (part.parent / f".{part.name}.crc").unlink()
    refresh()
    assert _total_plays(spark) == 5 + table.num_rows


def test_replaced_or_dropped_view_is_planned_again(spark, tiny_star):
    """A view replaced or dropped after registration is not served from
    the prepared query: ``run_gold`` plans over the session's views as
    they are, and the next refresh prepares anew."""
    root, refresh = tiny_star
    refresh()
    prepared = sql.run_gold(spark, "total_plays")
    assert prepared.collect()[0].total_plays == 5
    spark.createDataFrame([(3,)], "play_count long").createOrReplaceTempView("fact_engagement")
    replaced = sql.run_gold(spark, "total_plays")
    assert replaced is not prepared and replaced.collect()[0].total_plays == 3
    spark.catalog.dropTempView("fact_engagement")
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        sql.run_gold(spark, "total_plays")
    refresh()
    assert sql.run_gold(spark, "total_plays") is not prepared
    assert _total_plays(spark) == 5


def test_new_session_inherits_nothing(spark, tiny_star):
    """Registrations and prepared queries belong to one session: a new
    session has no star views, and its own refresh prepares its own
    queries."""
    root, refresh = tiny_star
    refresh()
    prepared = sql.run_gold(spark, "total_plays")
    other = spark.newSession()
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        sql.run_gold(other, "total_plays")
    refresh(other)
    mine = sql.run_gold(other, "total_plays")
    assert mine is not prepared and mine is sql.run_gold(other, "total_plays")
    assert _total_plays(other) == 5 and sql.run_gold(spark, "total_plays") is prepared


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
