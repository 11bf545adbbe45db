"""Unit tests for conform operators (P1-P8, scalar funcs, Q2 repair)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from wistia_video_analytics_project_spark.operators import conform


def test_null_or_empty(spark):
    df = spark.createDataFrame(
        [("a",), (None,), ("",), ("  ",), (" x ",)], "s string"
    )
    got = df.select(conform.null_or_empty("s").alias("b")).collect()
    assert [r.b for r in got] == [False, True, True, True, False]


def test_classify_channel(spark):
    df = spark.createDataFrame(
        [("My FaceBook promo",), ("YOUTUBE clip",), ("insta: instagram",),
         ("plain title",), (None,)],
        "name string",
    )
    got = [r.c for r in df.select(conform.classify_channel("name").alias("c")).collect()]
    assert got == ["Facebook", "YouTube", "Instagram", "Wistia", "Wistia"]


def test_epoch_to_timestamp_with_fallback(spark):
    fb = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame([(1700000000,), (None,)], "created long")
    out = df.select(
        conform.epoch_to_timestamp("created", F.lit(fb)).alias("ts")
    ).collect()
    assert out[0].ts == dt.datetime(2023, 11, 14, 22, 13, 20)
    assert out[1].ts == fb


def test_repair_key_deterministic_and_idempotent(spark):
    df = spark.createDataFrame(
        [(None, "x"), ("", "y"), ("k1", "z")], "key string, payload string"
    )
    fixed = conform.repair_key(df, "key", "media", ["payload"])
    rows = {r.payload: r.key for r in fixed.collect()}
    assert rows["z"] == "k1"
    assert rows["x"].startswith("media_") and len(rows["x"]) == len("media_") + 64
    # deterministic: same content -> same surrogate on a rerun
    again = {r.payload: r.key for r in conform.repair_key(df, "key", "media", ["payload"]).collect()}
    assert again == rows
    # idempotent: repairing repaired keys changes nothing
    twice = conform.repair_key(fixed, "key", "media", ["payload"])
    assert {r.payload: r.key for r in twice.collect()} == rows


def test_all_keys_present(spark):
    df = spark.createDataFrame(
        [("a", "b"), (None, "b"), ("a", ""), ("x", "y")], "k1 string, k2 string"
    )
    assert conform.all_keys_present(df, ["k1", "k2"]).count() == 2
