from __future__ import annotations

import os
import sys

import pytest

_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_ROOT = os.path.dirname(_TESTS_DIR)
sys.path.insert(0, _REPO_ROOT)

# Spark's Python workers are separate processes: anything they unpickle by
# reference (e.g. mapInPandas closures defined in test modules) must be
# importable there too.
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in [_REPO_ROOT, _TESTS_DIR, os.environ.get("PYTHONPATH")] if p
)

from wistia_video_analytics_project_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("spark-warehouse"))
    s = get_spark(
        "tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": wh},  # static conf: build-time only
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def silver_star(spark, tmp_path_factory):
    """A 30-day silver star schema written by the engine's sink (fact
    partitioned by date, 30 date directories) -> {view name: path}.

    Durations are whole seconds and a record's events share one
    ``percent_watched``, so every gold sum and mean is exact whatever
    order it adds in."""
    import datetime as dt
    import random

    from wistia_video_analytics_project_spark import schemas, sinks
    from wistia_video_analytics_project_spark.operators import model

    rng = random.Random(7)
    day0 = 1717200000  # 2024-06-01 00:00 UTC
    media = [(f"m{i}", "YouTube clip" if i % 2 else f"video {i}", day0 - 86400 * i)
             for i in range(8)]
    visitors = []
    for i in range(300):
        pct = float(rng.choice([10, 50, 100]))
        events = [{"type": rng.choice(["play", "play", "pause"]),
                   "time": day0 + 86400 * ((i + k) % 30) + rng.randrange(86400),
                   "duration_watched": float(rng.randrange(1, 600)),
                   "percent_watched": pct}
                  for k in range(rng.randrange(1, 6))]
        visitors.append((f"v{i % 120}", f"10.0.0.{i % 120}", ["US", "DE", "BR", "IN"][i % 4],
                         f"m{rng.randrange(8)}", events))
    raw_media = spark.createDataFrame(media, schemas.RAW_MEDIA)
    raw_visitors = spark.createDataFrame(visitors, schemas.RAW_VISITOR)
    run_ts = dt.datetime(2024, 7, 1)
    root = tmp_path_factory.mktemp("silver")
    tables = {
        "dim_media": model.build_dim_media(raw_media, run_ts),
        "dim_visitor": model.build_dim_visitor(raw_visitors, run_ts),
        "fact_engagement": model.build_fact_engagement(raw_visitors, run_ts),
    }
    paths = {}
    for name, df in tables.items():
        paths[name] = str(root / name)
        sinks.write_parquet(df, paths[name],
                            partition_by=["date"] if name == "fact_engagement" else None)
    return paths


@pytest.fixture
def silver_frames(spark, silver_star):
    """``silver_star`` read back as the dashboard reads it, in
    ``sql.STAR_VIEWS`` order; the views a test registers are dropped
    after it, so no cached view outlives the test."""
    from wistia_video_analytics_project_spark import sql
    from wistia_video_analytics_project_spark.sources import readers

    yield [readers.read_parquet(spark, silver_star[n]) for n in sql.STAR_VIEWS]
    for name in sql.STAR_VIEWS:
        spark.catalog.dropTempView(name)
