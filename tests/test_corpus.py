"""Corpus assembly: stratified sampling, sequence packing, shard writing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wistia_video_analytics_project_spark.operators import corpus

from conftest import SF_SMOKE


def test_stratified_sample_deterministic_and_calibrated(spark):
    df = spark.range(0, 4000).select(
        F.col("id").alias("key"),
        F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("stratum"),
    )
    out = corpus.stratified_sample(df, "stratum", {"even": 0.5, "odd": 0.1}, "key")
    rows = out.collect()
    by = {"even": 0, "odd": 0}
    for r in rows:
        by[r.stratum] += 1
    # md5 is uniform: expect 1000±tolerance evens, 200±tolerance odds
    assert abs(by["even"] - 1000) < 100
    assert abs(by["odd"] - 200) < 60
    # deterministic: same selection under a different layout
    again = {r.key for r in corpus.stratified_sample(
        df.repartition(7), "stratum", {"even": 0.5, "odd": 0.1}, "key").collect()}
    assert again == {r.key for r in rows}
    # absent strata are dropped, fraction bounds enforced
    none = corpus.stratified_sample(df, "stratum", {"even": 0.0}, "key")
    assert none.count() == 0
    with pytest.raises(ValueError, match="fraction"):
        corpus.stratified_sample(df, "stratum", {"even": 1.5}, "key")


def test_weighted_sample_proportional_and_deterministic(spark):
    """Inclusion odds scale with weight; selection is layout-independent
    and uses only IEEE-exact ops (no pow/ln rank keys)."""
    df = spark.range(0, 20000).select(
        F.col("id").alias("key"),
        F.when(F.col("id") % 2 == 0, 10.0).otherwise(1.0).alias("w"),
    )
    out = corpus.weighted_sample(df, "w", rate=0.02, key_col="key")
    rows = out.collect()
    heavy = sum(1 for r in rows if r.w == 10.0)
    light = sum(1 for r in rows if r.w == 1.0)
    # heavy rows kept with p=0.2 (~2000), light with p=0.02 (~200)
    assert abs(heavy - 2000) < 250
    assert abs(light - 200) < 90
    again = {r.key for r in corpus.weighted_sample(
        df.repartition(11), "w", rate=0.02, key_col="key").collect()}
    assert again == {r.key for r in rows}
    # rate * weight >= 1 keeps everything; rate 0 keeps nothing
    assert corpus.weighted_sample(df, "w", 1.0, "key").count() == 20000
    assert corpus.weighted_sample(df, "w", 0.0, "key").count() == 0
    with pytest.raises(ValueError, match="rate"):
        corpus.weighted_sample(df, "w", -0.1, "key")


def test_pack_sequences_invariants(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(200)
    max_tokens = 128
    packed = corpus.pack_sequences(docs, max_tokens=max_tokens, n_buckets=8)
    rows = packed.collect()
    # every doc packed exactly once
    assert sorted(r.doc_id for r in rows) == sorted(
        r.doc_id for r in docs.select("doc_id").collect()
    )
    fills: dict[str, int] = {}
    for r in rows:
        if not r.oversize:
            fills[r.pack_id] = fills.get(r.pack_id, 0) + r.n_tokens
        else:
            # oversize docs sit alone in their pack
            assert r.n_tokens > max_tokens
    assert fills, "expected at least one normal pack"
    assert all(total <= max_tokens for total in fills.values())
    # deterministic under repartitioning
    again = {(r.doc_id, r.pack_id)
             for r in corpus.pack_sequences(
                 docs.repartition(13), max_tokens=max_tokens, n_buckets=8
             ).collect()}
    assert again == {(r.doc_id, r.pack_id) for r in rows}


def test_mixture_sample_respects_budget_and_caps(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    weights = {"src0": 3.0, "src1": 1.0, "src2": 1.0}
    budget = 10_000.0
    out = corpus.mixture_sample(docs, weights, budget).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.n_chars)
    assert set(by_src) <= set(weights)  # unlisted sources dropped
    totals = {s: sum(v) for s, v in by_src.items()}
    src_totals = {
        r.source: r.t
        for r in docs.groupBy("source").agg(F.sum("n_chars").alias("t")).collect()
    }
    for s, w in weights.items():
        target = w / 5.0 * budget
        # capped sources keep everything; sampled sources land near target
        if src_totals[s] <= target:
            assert totals[s] == src_totals[s]
        else:
            assert totals[s] < src_totals[s]


def test_mixture_sample_deterministic_and_layout_independent(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    weights = {"src0": 1.0, "src1": 1.0}
    a = {r.doc_id for r in corpus.mixture_sample(docs, weights, 5_000.0).collect()}
    b = {r.doc_id for r in
         corpus.mixture_sample(docs.repartition(13), weights, 5_000.0).collect()}
    assert a == b and a


def test_mixture_sample_rejects_bad_weights(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    with pytest.raises(ValueError):
        corpus.mixture_sample(docs, {}, 100.0)
    with pytest.raises(ValueError):
        corpus.mixture_sample(docs, {"src0": -2.0, "src1": 1.0}, 100.0)
    # mixed signs summing POSITIVE must also be rejected — the negative
    # source would silently drop while inflating the others' budgets
    with pytest.raises(ValueError, match="non-negative"):
        corpus.mixture_sample(docs, {"src0": -2.0, "src1": 3.0}, 100.0)


def test_quality_budget_select_greedy_by_quality(spark):
    rows = [
        ("a", 1, 100, 0.9), ("a", 2, 100, 0.8), ("a", 3, 100, 0.7),
        ("a", 4, 100, 0.6),
        ("b", 5, 250, 0.5), ("b", 6, 100, 0.4),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_chars long, q double")
    kept = {r.doc_id for r in
            corpus.quality_budget_select(df, 300.0, "q").collect()}
    # source a: best three fit exactly; 4th would exceed
    # source b: best doc (250) fits; adding the next (100) would exceed
    assert kept == {1, 2, 3, 5}


def test_quality_budget_select_tie_breaks_by_id(spark):
    rows = [("a", 2, 200, 0.5), ("a", 1, 200, 0.5), ("a", 3, 200, 0.5)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_chars long, q double")
    kept = {r.doc_id for r in
            corpus.quality_budget_select(df, 400.0, "q").collect()}
    assert kept == {1, 2}  # equal quality: lowest ids win


def test_weighted_sample_wor_exact_size_and_bias(spark):
    """WOR sample: exact n, layout-independent, and heavier rows are
    over-represented relative to their population share."""
    rows = [(i, 100.0 if i % 10 == 0 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = corpus.weighted_sample_wor(df, "w", 100, key_col="id")
    ids = {r.id for r in got.collect()}
    assert len(ids) == 100
    again = {r.id for r in
             corpus.weighted_sample_wor(df.repartition(13), "w", 100,
                                        key_col="id").collect()}
    assert ids == again
    heavy = sum(1 for i in ids if i % 10 == 0)
    # heavy rows are 10% of the population at 100x weight -> far more
    # than their 10-row proportional share lands in the sample
    assert heavy > 30
    with pytest.raises(ValueError):
        corpus.weighted_sample_wor(df, "w", 0, key_col="id")


def test_temperature_mixture_upweights_small_sources(spark):
    # 3 sources with very uneven counts; alpha<1 must give the small
    # source a HIGHER keep fraction than proportional sampling would
    df = spark.range(0, 3300).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 3000, "big")
        .when(F.col("id") < 3200, "mid")
        .otherwise("small")
        .alias("source"),
    )
    out = corpus.temperature_mixture_sample(df, 0.5, 600.0, key_col="doc_id")
    by = {s: 0 for s in ("big", "mid", "small")}
    for r in out.collect():
        by[r.source] += 1
    # proportional (alpha=1) would give small ~600*100/3300 = 18 docs;
    # alpha=0.5 weights ~ sqrt(n): w_small = 10/(54.8+14.1+10) = 0.127
    # -> target ~76 of its 100 docs
    assert by["small"] > 40
    assert by["big"] < 550
    # deterministic and layout-independent
    again = {
        r.doc_id
        for r in corpus.temperature_mixture_sample(
            df.repartition(11), 0.5, 600.0, key_col="doc_id"
        ).collect()
    }
    assert again == {r.doc_id for r in out.collect()}


def test_temperature_mixture_alpha_bounds_and_saturation(spark):
    df = spark.range(0, 100).select(
        F.col("id").alias("doc_id"), F.lit("only").alias("source")
    )
    with pytest.raises(ValueError, match="alpha"):
        corpus.temperature_mixture_sample(df, 1.5, 10.0)
    # budget above corpus size: everything kept (frac caps at 1)
    kept = corpus.temperature_mixture_sample(df, 0.7, 1_000.0).count()
    assert kept == 100
