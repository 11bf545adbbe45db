"""Golden end-to-end test of the star-schema builders on reference-shaped
raw fixtures (FIXTURES.md §A; reference `notebool-03.py` semantics)."""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest
from pyspark.sql import functions as F

from wistia_video_analytics_project_spark import schemas
from wistia_video_analytics_project_spark.operators import model, quality

RUN_TS = dt.datetime(2024, 6, 1, 2, 0, 0)


@pytest.fixture(scope="module")
def raw_media(spark):
    rows = [
        ("m1", "Facebook teaser", 1700000000),
        ("m2", "YouTube launch", 1700000100),
        ("m3", None, 1700000200),          # null name -> Untitled/Wistia
        (None, "orphan video", 1700000300),  # null key -> PK repair
        ("m1", "Facebook teaser", 1700000000),  # exact duplicate -> dedup
    ]
    return spark.createDataFrame(rows, schemas.RAW_MEDIA)


@pytest.fixture(scope="module")
def raw_visitors(spark):
    ev = lambda t, time, dur, pct: {"type": t, "time": time,
                                    "duration_watched": dur, "percent_watched": pct}
    day1, day2 = 1704067200, 1704153600  # 2024-01-01, 2024-01-02 UTC
    rows = [
        ("v1", "1.2.3.4", "US", "m1",
         [ev("play", day1, 10.0, 50.0), ev("play", day1 + 60, 30.0, 80.0),
          ev("pause", day1 + 90, None, None)]),
        ("v1", "1.2.3.4", "US", "m1", [ev("play", day2, 20.0, 60.0)]),
        ("v2", None, None, "m1", [ev("play", day1, None, None)]),
        ("v3", "5.6.7.8", "DE", "m2", []),      # empty events -> dropped
        ("v4", "9.9.9.9", "FR", "m2", None),     # null events -> dropped
    ]
    return spark.createDataFrame(rows, schemas.RAW_VISITOR)


def test_dim_media(spark, raw_media):
    dim = model.build_dim_media(raw_media, RUN_TS)
    rows = {r.media_id: r for r in dim.collect()}
    assert dim.count() == 4  # 5 raw - 1 duplicate
    assert rows["m1"].channel == "Facebook"
    assert rows["m2"].channel == "YouTube"
    assert rows["m3"].title == "Untitled" and rows["m3"].channel == "Wistia"
    assert rows["m1"].url.endswith("/m1")
    repaired = [k for k in rows if k.startswith("media_")]
    assert len(repaired) == 1
    quality.assert_unique(dim, ["media_id"])


def test_dim_visitor(spark, raw_visitors):
    dim = model.build_dim_visitor(raw_visitors, RUN_TS)
    rows = {r.visitor_id: r for r in dim.collect()}
    assert set(rows) == {"v1", "v2", "v3", "v4"}
    assert rows["v2"].ip_address == "Unknown" and rows["v2"].country == "Unknown"
    quality.assert_unique(dim, ["visitor_id"])


def test_fact_engagement(spark, raw_visitors):
    fact = model.build_fact_engagement(raw_visitors, RUN_TS)
    rows = {(r.media_id, r.visitor_id, str(r.date)): r for r in fact.collect()}
    # v1 day1: two plays; pause excluded
    r = rows[("m1", "v1", "2024-01-01")]
    assert r.play_count == 2
    assert r.play_rate == 0.2  # count/10 domain constant (notebool-03.py:229)
    assert r.total_watch_time_seconds == 40.0
    assert r.avg_percent_watched == 65.0
    # v1 day2 single play
    assert rows[("m1", "v1", "2024-01-02")].play_count == 1
    # v2: null duration/percent coalesced to 0
    r2 = rows[("m1", "v2", "2024-01-01")]
    assert r2.total_watch_time_seconds == 0.0 and r2.avg_percent_watched == 0.0
    # empty/null event arrays contribute nothing
    assert not any(m == "m2" for (m, _, _) in rows)
    quality.assert_unique(fact, ["media_id", "visitor_id", "date"])


def _build_all(raw_media, raw_visitors, run_ts):
    return (model.build_dim_media(raw_media, run_ts),
            model.build_dim_visitor(raw_visitors, run_ts),
            model.build_fact_engagement(raw_visitors, run_ts))


def test_run_ts_is_utc_in_any_local_zone(spark, raw_media, raw_visitors):
    """A naive ``run_ts`` is stamped as UTC wall time whatever the Python
    process's local zone (``F.lit`` of a naive datetime converts through
    it)."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Tokyo"
    time.tzset()
    try:
        frames = _build_all(raw_media, raw_visitors, RUN_TS)
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()
    for df, col in zip(frames, ("processed_at", "processed_at", "loaded_at")):
        stamps = {r[0] for r in df.select(F.col(col).cast("string")).collect()}
        assert stamps == {str(RUN_TS)}, col


def test_new_run_ts_compiles_no_code(spark, raw_media, raw_visitors):
    """The run timestamp is not inlined into generated code: building and
    collecting the star schema for a second run timestamp compiles no
    class (Spark's codegen cache serves the first run's)."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    for df in _build_all(raw_media, raw_visitors, RUN_TS):
        df.collect()
    before = compiles.getCount()
    for df in _build_all(raw_media, raw_visitors, RUN_TS + dt.timedelta(days=1)):
        df.collect()
    assert compiles.getCount() == before


def test_fact_schema_matches_declared(spark, raw_visitors):
    fact = model.build_fact_engagement(raw_visitors, RUN_TS)
    got = {f.name: f.dataType.simpleString() for f in fact.schema.fields}
    want = {f.name: f.dataType.simpleString()
            for f in schemas.FACT_MEDIA_ENGAGEMENT.fields}
    assert got == want


def _old_dim_media(raw_media, run_ts):
    """The pre-simplification form: full-row distinct before the key dedup."""
    from pyspark.sql import functions as F

    from wistia_video_analytics_project_spark.operators import conform

    ts = F.lit(run_ts).cast("timestamp")
    dim = conform.select_rename(
        raw_media,
        {
            "media_id": "hashed_id",
            "title": F.coalesce(F.col("name"), F.lit("Untitled")),
            "url": conform.media_url("hashed_id"),
            "channel": conform.classify_channel("name"),
            "created_at": conform.epoch_to_timestamp("created", fallback=ts),
            "processed_at": ts,
        },
    ).distinct()
    dim = conform.repair_key(dim, "media_id", "media", ["title", "url", "created_at"])
    return quality.dedup_keep_first(dim, ["media_id"], order_by=["created_at", "title"])


def _old_dim_visitor(raw_visitors, run_ts):
    from pyspark.sql import functions as F

    from wistia_video_analytics_project_spark.operators import conform

    dim = conform.select_rename(
        raw_visitors,
        {
            "visitor_id": "visitor_key",
            "ip_address": F.coalesce(F.col("ip_address"), F.lit("Unknown")),
            "country": F.coalesce(F.col("country"), F.lit("Unknown")),
            "processed_at": F.lit(run_ts).cast("timestamp"),
        },
    ).distinct()
    dim = conform.repair_key(dim, "visitor_id", "visitor", ["ip_address", "country"])
    return quality.dedup_keep_first(dim, ["visitor_id"], order_by=["ip_address", "country"])


def _old_fact(raw_visitors, run_ts):
    """The pre-simplification form: a keep-first dedup after the groupBy."""
    return quality.dedup_keep_first(
        model.build_fact_engagement(raw_visitors, run_ts),
        ["media_id", "visitor_id", "date"],
        order_by=["loaded_at", "play_count"],
    )


def _rows(df):
    from collections import Counter

    return Counter(tuple(r) for r in df.collect())


@pytest.mark.parametrize("extra", ["none", "blank_key", "duplicated_null_key"])
def test_builders_match_old_distinct_and_dedup_forms(spark, raw_media, raw_visitors, extra):
    """Dropping the dims' full-row distinct and the fact's trailing dedup
    changes no row: ``repair_key`` is a function of the row, so exact
    duplicates share a key, and the groupBy keys are already unique."""
    ev = {"type": "play", "time": 1704067200, "duration_watched": 5.0,
          "percent_watched": 25.0}
    media_extra = {
        "none": [],
        "blank_key": [("  ", "blank key video", 1700000400)],
        "duplicated_null_key": [(None, "orphan video", 1700000300)],
    }[extra]
    visitor_extra = {
        "none": [],
        "blank_key": [("", "2.2.2.2", "GB", "m1", [ev])],
        "duplicated_null_key": [(None, "3.3.3.3", "IT", "m2", [ev])] * 2,
    }[extra]
    media = raw_media.unionByName(spark.createDataFrame(media_extra, schemas.RAW_MEDIA))
    visitors = raw_visitors.unionByName(
        spark.createDataFrame(visitor_extra, schemas.RAW_VISITOR)
    )
    assert _rows(model.build_dim_media(media, RUN_TS)) == _rows(_old_dim_media(media, RUN_TS))
    assert _rows(model.build_dim_visitor(visitors, RUN_TS)) == _rows(
        _old_dim_visitor(visitors, RUN_TS)
    )
    assert _rows(model.build_fact_engagement(visitors, RUN_TS)) == _rows(
        _old_fact(visitors, RUN_TS)
    )
