"""Gold DECIMAL(5,2) boundary: overflow clamp, half-up INT, DDL schema.

Mirrors the reference's silver→gold type conversion
(`wistia-Azure-Data-Factory-ETL-Pipeline.json:437-450`,
``allowDataTruncation`` at `:204`; gold DDL PDF p.26) with an explicit,
tested clamp instead of silent copy-time truncation.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F, types as T

from wistia_video_analytics_project_spark.operators import gold


def _fact(spark, rate, pct, watch):
    return spark.createDataFrame(
        [("m1", "v1", rate, pct, watch)],
        "media_id string, visitor_id string, play_rate double, "
        "avg_percent_watched double, total_watch_time_seconds double",
    )


def test_gold_schema_and_renames(spark):
    out = gold.to_gold_fact(_fact(spark, 1.3, 52.35, 123.4))
    assert [f.name for f in out.schema.fields] == [
        "media_id", "visitor_id", "play_rate", "watched_percent", "total_watch_time",
    ]
    by_name = {f.name: f.dataType for f in out.schema.fields}
    assert by_name["play_rate"] == T.DecimalType(5, 2)
    assert by_name["watched_percent"] == T.DecimalType(5, 2)
    assert by_name["total_watch_time"] == T.IntegerType()
    row = out.collect()[0]
    assert row.play_rate == Decimal("1.30")
    assert row.watched_percent == Decimal("52.35")
    assert row.total_watch_time == 123


def test_gold_overflow_clamp_saturates(spark):
    row = gold.to_gold_fact(_fact(spark, 1234.56, -7777.7, 1.0)).collect()[0]
    assert row.play_rate == Decimal("999.99")
    assert row.watched_percent == Decimal("-999.99")


def test_int_seconds_half_up(spark):
    df = spark.createDataFrame(
        [(0.4,), (0.5,), (1.5,), (2.5,), (-0.4,), (-0.6,)], "x double"
    ).select(gold.int_seconds("x").alias("i"))
    # floor(x + 0.5): deterministic half-up everywhere — 2.5 -> 3 (never
    # banker's 2), -0.6 -> floor(-0.1) -> -1.
    assert [r.i for r in df.collect()] == [0, 1, 2, 3, 0, -1]


def test_gold_cast_is_codegen_only(spark):
    plan = gold.to_gold_fact(_fact(spark, 1.0, 2.0, 3.0))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
