"""End-to-end LLM corpus-prep composition: quality gate -> exact dedup
-> near-dup cluster dedup -> chunking -> document-granular split."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wistia_video_analytics_project_spark.llm_pipeline import prepare_training_corpus
from wistia_video_analytics_project_spark.session import configure_runtime
from wistia_video_analytics_project_spark.sources import load_table

from conftest import SF_SMOKE


def test_prepare_training_corpus_invariants(spark):
    configure_runtime(spark)
    docs = load_table(spark, SF_SMOKE, "documents")
    out = prepare_training_corpus(docs, chunk_size=50, stride=40).cache()

    assert out.count() > 0
    # chunk windows never exceed chunk_size and are non-empty
    bad = out.filter((F.col("n_tokens") < 1) | (F.col("n_tokens") > 50)).count()
    assert bad == 0
    # split is document-granular: no doc appears in two splits
    straddlers = (
        out.groupBy("doc_id")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert straddlers == 0
    # all three splits materialize at this corpus size
    assert {r.split for r in out.select("split").distinct().collect()} == {
        "train", "validation", "test",
    }
    out.unpersist()


def test_prepare_training_corpus_dedups(spark):
    configure_runtime(spark)
    docs = load_table(spark, SF_SMOKE, "documents")
    # plant an exact duplicate and a doc below the quality gate
    extra = spark.createDataFrame(
        [(900001, docs.select("text").first().text, "en", "srcX", 10),
         (900002, "too short", "en", "srcX", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = prepare_training_corpus(docs.unionByName(extra))
    ids = {r.doc_id for r in out.select("doc_id").distinct().collect()}
    assert 900001 not in ids  # exact dup of an earlier doc: dropped
    assert 900002 not in ids  # under min_tokens: dropped


def test_token_burstiness_detects_clumped_tokens(spark):
    from wistia_video_analytics_project_spark.operators import text as t

    docs = spark.createDataFrame(
        [(i, "the quick fox " + ("zebra " * 6 if i % 5 == 0 else ""))
         for i in range(20)],
        "doc_id long, text string",
    )
    out = {r.tok: r for r in t.token_burstiness(docs, min_df=3, top=10).collect()}
    # 'zebra' appears 6x in each of 4 docs -> burstiness 6; spread
    # words appear once per doc -> burstiness 1
    assert out["zebra"].df == 4 and out["zebra"].cf == 24
    assert out["zebra"].burstiness == 6.0
    assert out["the"].burstiness == 1.0
    # ranked first by burstiness
    ranked = t.token_burstiness(docs, min_df=3, top=1).collect()
    assert ranked[0].tok == "zebra"


def test_heaps_law_fit_reasonable_and_matches_numpy(spark):
    import duckdb
    import numpy as np

    import __spark_entry__ as entrymod
    from conftest import SF_SMOKE

    [row] = entrymod.queries()["heaps_law_fit"](spark, SF_SMOKE).collect()
    assert row.n_points == 10
    # the synthetic corpus has a CLOSED template lexicon (31 types over
    # ~28k tokens): vocabulary saturates at the first checkpoint and
    # beta ~ 0 — the documented degenerate diagnostic, still sub-linear
    assert 0.0 <= row.heaps_beta < 1.0
    # rebuild the 10 checkpoint pairs independently and refit
    rel = duckdb.sql(
        f"""
        WITH tok2 AS (
          SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
          FROM '{SF_SMOKE}/documents.parquet'),
        tok AS (SELECT doc_id, t FROM tok2 WHERE t <> ''),
        per_doc AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
        first_seen AS (SELECT t, min(doc_id) AS fd FROM tok GROUP BY 1),
        new_types AS (
          SELECT fd AS doc_id, count(*) AS nt FROM first_seen GROUP BY 1),
        ord AS (
          SELECT sum(d.n) OVER (ORDER BY d.doc_id) AS ct,
                 sum(coalesce(t.nt, 0)) OVER (ORDER BY d.doc_id) AS cv,
                 row_number() OVER (ORDER BY d.doc_id) AS rn,
                 count(*) OVER () AS nd
          FROM per_doc d LEFT JOIN new_types t ON d.doc_id = t.doc_id)
        SELECT ct, cv FROM ord
        JOIN (SELECT unnest(generate_series(1, 10)) AS k)
          ON rn = CAST(floor(nd * k / 10.0) AS BIGINT)
        """
    ).fetchall()
    x = np.log(np.array([r[0] for r in rel], dtype=np.float64))
    y = np.log(np.array([r[1] for r in rel], dtype=np.float64))
    slope, intercept = np.polyfit(x, y, 1)
    assert row.heaps_beta == pytest.approx(slope, abs=2e-5)
    assert row.heaps_k == pytest.approx(float(np.exp(intercept)), abs=0.05)
    assert row.total_tokens == rel[-1][0] and row.total_types == rel[-1][1]


def test_heaps_law_fit_growing_vocabulary(spark):
    """On a corpus whose vocabulary genuinely grows, the fitted beta
    lands in the sub-linear growth band (textbook 0.3-0.9)."""
    import random

    from wistia_video_analytics_project_spark.operators import text as t

    rng = random.Random(42)
    docs = []
    vocab_counter = 0
    for d in range(120):
        words = []
        for _ in range(40):
            if rng.random() < 0.3:
                vocab_counter += 1
                words.append(f"new{vocab_counter}")
            else:
                words.append(f"w{rng.randrange(max(1, vocab_counter))}")
        docs.append((d, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    [row] = t.heaps_law_fit(df).collect()
    assert row.n_points == 10
    assert 0.3 < row.heaps_beta < 1.0
    assert row.total_types > 1000


def test_vocab_overlap_sources_exact(spark):
    from wistia_video_analytics_project_spark.operators import text as t

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "s1"),
            (2, "c d e f", "s2"),
            (3, "x y", "s3"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {(r.src_a, r.src_b): r for r in
            t.vocab_overlap_sources(docs).collect()}
    r12 = rows[("s1", "s2")]
    assert (r12.na, r12.nb, r12.n_inter) == (4, 4, 2)
    assert r12.jaccard == pytest.approx(2 / 6, abs=1e-6)
    # disjoint vocab pairs produce NO row (inner join on types) — the
    # caller reads absent pairs as jaccard 0
    assert ("s1", "s3") not in rows and ("s2", "s3") not in rows
