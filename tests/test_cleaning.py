"""Cleaning tier: PII scrub, repetition, boilerplate lines, contamination."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wistia_video_analytics_project_spark.operators import cleaning

from conftest import SF_SMOKE


def test_pii_scrub_counts_and_replaces(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a@b.io and c.d+x@e-f.org call 555-123-4567 from 10.0.0.1"),
            (2, "no pii here"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in cleaning.pii_scrub(df).collect()}
    assert (out[1].n_email, out[1].n_phone, out[1].n_ipv4) == (2, 1, 1)
    assert out[1].text_scrubbed == "mail <EMAIL> and <EMAIL> call <PHONE> from <IP>"
    assert (out[2].n_email, out[2].text_scrubbed) == (0, "no pii here")
    assert out[3].text_scrubbed is None and out[3].n_email is None


def test_repetition_metrics_extremes(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a a a"),            # maximal repetition
            (2, "q w e r t y"),            # no repetition
            (3, "xy"),                     # shorter than n: no ngrams
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in cleaning.repetition_metrics(df, n=3).collect()}
    assert out[1].n_tokens == 6 and out[1].n_distinct_tokens == 1
    assert out[1].dup_token_frac == pytest.approx(5 / 6, abs=1e-4)
    assert out[1].dup_ngram_frac == pytest.approx(3 / 4, abs=1e-4)
    assert out[2].dup_token_frac == 0.0 and out[2].dup_ngram_frac == 0.0
    assert out[3].n_ngrams == 0 and out[3].dup_ngram_frac == 0.0


def test_remove_boilerplate_lines(spark):
    footer = "all rights reserved"
    df = spark.createDataFrame(
        [
            (1, f"unique alpha\n{footer}\nunique beta"),
            (2, f"unique gamma\n{footer.upper()}"),   # df counts normalized
            (3, "unique delta\n\n  \nunique epsilon"),  # blanks dropped
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in cleaning.remove_boilerplate_lines(df, min_df=2).collect()}
    assert out[1].text_clean == "unique alpha\nunique beta"
    assert (out[1].n_lines_kept, out[1].n_lines_dropped) == (2, 1)
    # normalization matched the uppercase footer; original casing is gone
    assert out[2].text_clean == "unique gamma"
    assert out[2].n_lines_dropped == 1
    # blank lines are neither kept nor counted as dropped
    assert out[3].text_clean == "unique delta\nunique epsilon"
    assert (out[3].n_lines_kept, out[3].n_lines_dropped) == (2, 0)
    # within-doc repeats count once for df: a line repeated in ONE doc
    # only is not boilerplate
    solo = spark.createDataFrame(
        [(9, "same line\nsame line\nother")], "doc_id long, text string"
    )
    out9 = cleaning.remove_boilerplate_lines(solo, min_df=2).collect()[0]
    assert out9.n_lines_dropped == 0


def test_contamination_exact(spark):
    docs = spark.createDataFrame(
        [(1, "one two three four five six"),   # shares 5-grams with bench
         (2, "totally different words here now then")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "zero one two three four five six seven")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in cleaning.ngram_contamination(docs, bench, n=5).collect()}
    # doc 1: 2 distinct 5-grams, both inside the benchmark text
    assert out[1].n_ngrams == 2 and out[1].n_contaminated == 2
    assert out[1].contamination_rate == 1.0
    assert out[2].n_contaminated == 0 and out[2].contamination_rate == 0.0


def test_contamination_bloom_is_superset_of_exact(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(80)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    eval_docs = docs.filter(F.col("doc_id") % 20 != 0)
    exact = {r.doc_id: r.n_contaminated
             for r in cleaning.ngram_contamination(eval_docs, bench, n=5).collect()}
    bloom = {r.doc_id: r.n_contaminated
             for r in cleaning.ngram_contamination_bloom(
                 eval_docs, bench, n=5, expected_items=100_000).collect()}
    assert set(bloom) == set(exact)
    for d, n_exact in exact.items():
        # no false negatives ever; false positives stay a small tail
        assert bloom[d] >= n_exact
    total_exact = sum(exact.values())
    total_bloom = sum(bloom.values())
    assert total_bloom <= total_exact + max(10, total_exact // 10)


def test_contamination_bloom_fpp_matches_planner_prediction(spark):
    """The bloom_fpp_planner capacity table predicts
    (1 − e^{−k·n/m})^k; the filter itself must OBSERVE that rate on
    probes disjoint from the benchmark (round-9 VERDICT item 5).
    n=2000 inserted 5-grams at 8 bits/key, k=5 → predicted ≈ 2.2%;
    8000 disjoint probes give σ ≈ 0.17%, so the ±50% band is ~6σ."""
    import math

    bench_text = " ".join(f"b{i}" for i in range(2004))  # 2000 5-grams
    probe_text = " ".join(f"p{i}" for i in range(8004))  # 8000 5-grams
    bench = spark.createDataFrame(
        [(1, bench_text)], "doc_id long, text string"
    )
    probes = spark.createDataFrame(
        [(2, probe_text)], "doc_id long, text string"
    )
    expected_items, bits_per_key, k = 2000, 8, 5
    n_bits = ((expected_items * bits_per_key + 63) // 64) * 64
    row = cleaning.ngram_contamination_bloom(
        probes, bench, n=5,
        expected_items=expected_items, bits_per_item=bits_per_key,
        k_hashes=k,
    ).collect()[0]
    observed = row.n_contaminated / row.n_ngrams
    predicted = (1.0 - math.exp(-k * expected_items / n_bits)) ** k
    assert row.n_ngrams == 8000
    assert 0.5 * predicted <= observed <= 1.5 * predicted, (
        f"observed FPP {observed:.4f} vs predicted {predicted:.4f}"
    )


def test_similar_documents_finds_planted_overlap(spark):
    from wistia_video_analytics_project_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [
            (1, "quantum flux capacitor resonance chamber alpha"),
            (2, "quantum flux capacitor resonance chamber beta"),
            (3, "entirely different words about cooking pasta tonight"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.doc_id_a, r.doc_id_b): r.cosine_tfidf
             for r in text_ops.similar_documents(df, threshold=0.1).collect()}
    # shared terms carry idf ln(3/2) vs ln(3) for unique ones, so the
    # planted pair scores ~0.4 — well above the disjoint pairs (absent)
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.3
    assert (1, 3) not in pairs and (2, 3) not in pairs
    assert all(0.0 <= v <= 1.0 for v in pairs.values())


def test_similar_documents_exact_copy_scores_one(spark):
    from pyspark.sql import functions as F2

    from wistia_video_analytics_project_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(50)
    copy = docs.filter("doc_id = 0").withColumn("doc_id", F2.lit(77_000))
    pairs = {
        (r.doc_id_a, r.doc_id_b): r.cosine_tfidf
        for r in text_ops.similar_documents(
            docs.unionByName(copy), threshold=0.9
        ).collect()
    }
    assert pairs.get((0, 77_000)) == 1.0


def test_similar_documents_max_df_controls_saturation(spark):
    """On a shared-Zipf-vocabulary corpus the unguarded unigram metric
    saturates (most pairs score high on common terms); the stop-term
    guard is what makes the pair set selective. Word-ORDER near-dups are
    the n-gram/minhash operators' job, not this one's — this is the
    bag-of-words topical-similarity metric."""
    from wistia_video_analytics_project_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n_full = text_ops.similar_documents(docs, threshold=0.5).count()
    n_guarded = text_ops.similar_documents(docs, threshold=0.5, max_df=100).count()
    assert n_guarded * 10 < n_full, (n_guarded, n_full)


def test_lm_bits_per_token_semantics(spark):
    """Add-k bigram LM: a document made of the corpus's dominant bigram
    scores fewer bits/token than one full of one-off bigrams, and the
    value matches a hand-computed reference exactly."""
    import math

    from wistia_video_analytics_project_spark.operators import text as text_ops

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the rug"),
        (3, "zq xw vy ub tk"),  # every bigram unique to this doc
        (4, "the cat the cat the cat"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text_ops.lm_bits_per_token(docs).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1].n_bigrams == 5
    # dominant-bigram doc is most predictable; unique-bigram doc least
    assert out[4].bits_per_token < out[1].bits_per_token
    assert out[3].bits_per_token > out[1].bits_per_token

    # exact reference computation in Python
    toks = {i: t.lower().split() for i, t in rows}
    bgs = {i: list(zip(t, t[1:])) for i, t in toks.items()}
    from collections import Counter

    cb = Counter(b for bs in bgs.values() for b in bs)
    cc = Counter(b[0] for bs in bgs.values() for b in bs)
    vocab = {w for t in toks.values() for w in t}
    k, V = 0.5, float(len(vocab))
    for i in (1, 2, 3, 4):
        bits = -sum(
            math.log2((cb[b] + k) / (cc[b[0]] + k * V)) for b in bgs[i]
        ) / len(bgs[i])
        assert out[i].bits_per_token == round(bits, 4), i


def test_lm_bits_excludes_sub_bigram_docs(spark):
    from wistia_video_analytics_project_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "hello"), (2, ""), (3, None), (4, "two tokens")],
        "doc_id long, text string",
    )
    got = {r.doc_id for r in text_ops.lm_bits_per_token(docs).collect()}
    assert got == {4}


def test_source_divergence_detects_drift(spark):
    """A source with alien vocabulary diverges more than sources drawn
    from the same word pool; a single-source corpus has JSD == 0."""
    from wistia_video_analytics_project_spark.operators import text as text_ops

    pool = "alpha beta gamma delta epsilon"
    rows = [
        (1, f"{pool} {pool}", "a"),
        (2, f"{pool} alpha beta", "b"),
        (3, "zork quux fizz buzz gronk zork quux", "c"),  # drifted
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.source: r.js_divergence
           for r in text_ops.source_divergence(docs).collect()}
    assert out["c"] > out["a"] and out["c"] > out["b"]
    assert 0.0 <= min(out.values()) and max(out.values()) <= 1.0

    solo = spark.createDataFrame(rows[:1], "doc_id long, text string, source string")
    only = text_ops.source_divergence(solo).collect()[0]
    assert only.js_divergence == 0.0


def test_doc_novelty_hashed_matches_string_path(spark):
    """The xxhash64-gram throughput variant must reproduce the string-gram
    oracle path exactly at test scale (collisions ~n_grams²/2⁶⁴ ≈ 0)."""
    from wistia_video_analytics_project_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    want = {(r.doc_id, r.n_grams, r.novelty)
            for r in text_ops.doc_novelty(docs, n=5).collect()}
    got = {(r.doc_id, r.n_grams, r.novelty)
           for r in text_ops.doc_novelty(docs, n=5, hashed=True).collect()}
    assert want and got == want


def test_readability_known_values(spark, tmp_path):
    """FRE on hand-computable texts: short simple sentences score far
    higher than a long vowel-dense run-on; null/empty rows drop."""
    from wistia_video_analytics_project_spark.operators import text as text_ops

    rows = [
        (1, "The cat sat. The dog ran.", "en", "src0", 25),
        (2, "Extraordinarily convoluted administrative bureaucracies "
            "continuously reevaluate organizational methodologies",
         "en", "src0", 104),
        (3, None, "en", "src0", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r
           for r in text_ops.q_text_readability(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2}
    r1 = out[1]
    assert (r1.n_words, r1.n_sentences) == (6, 2)
    # six one-syllable words over two sentences: 206.835 - 1.015*3 - 84.6*1
    assert r1.n_syllables == 6
    assert r1.reading_ease == round(206.835 - 1.015 * 3 - 84.6 * 1.0, 2)
    assert out[2].reading_ease < r1.reading_ease


def test_gopher_rules_flag_each_rule(spark):
    from wistia_video_analytics_project_spark.operators.cleaning import (
        GOPHER_RULE_BITS,
        gopher_rules,
    )

    good = " ".join(["the"] * 25 + ["with"] * 25)  # 50 words, mean 4, stops
    rows = [
        (1, good),
        (2, " ".join(["the", "with"] * 10)),            # 20 words: too few
        (3, " ".join(["a"] * 48 + ["the", "with"])),    # mean len < 3
        (4, good + " " + "# " * 12),                    # symbol ratio
        (5, " ".join(["the", "with"] + ["123"] * 48)),  # alpha frac < 0.8
        (6, " ".join(["data"] * 50)),                   # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in gopher_rules(df).collect()}
    assert got[1].keep and got[1].fail_mask == 0
    assert got[2].fail_mask & GOPHER_RULE_BITS["word_count"]
    assert got[3].fail_mask & GOPHER_RULE_BITS["mean_word_len"]
    assert got[4].fail_mask & GOPHER_RULE_BITS["symbol_ratio"]
    assert got[5].fail_mask & GOPHER_RULE_BITS["alpha_frac"]
    assert got[6].fail_mask & GOPHER_RULE_BITS["stopwords"]
    assert not got[2].keep
