"""Property-based tests (SURVEY.md §5.2 item 4): dedup idempotence,
PK-repair postconditions, fingerprint stability under whitespace noise.

hypothesis generates the row sets; examples are kept small because every
example runs Spark jobs (max_examples tuned accordingly)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from wistia_video_analytics_project_spark.operators import conform, quality, text

KEYS = st.one_of(st.none(), st.just(""), st.just("  "),
                 st.text(alphabet="abc", min_size=1, max_size=3))
ROWS = st.lists(
    st.tuples(KEYS, st.integers(0, 100)), min_size=1, max_size=20
)

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@given(rows=ROWS)
@SLOW
def test_dedup_idempotent_and_unique(spark, rows):
    df = spark.createDataFrame(rows, "key string, v int")
    once = quality.dedup_keep_first(df, ["key"], order_by=["v"])
    got = once.collect()
    # postcondition: unique keys, subset of input, count == distinct keys
    keys = [r.key for r in got]
    assert len(keys) == len(set(keys))
    assert len(got) == df.select("key").distinct().count()
    in_rows = set(map(tuple, rows))
    assert all((r.key, r.v) in in_rows for r in got)
    # idempotence (sort key tolerates None keys)
    twice = quality.dedup_keep_first(once, ["key"], order_by=["v"])
    norm = lambda rows: sorted(((r.key or "", r.v) for r in rows))
    assert norm(twice.collect()) == norm(got)


@given(rows=ROWS)
@SLOW
def test_repair_key_postconditions(spark, rows):
    df = spark.createDataFrame(rows, "key string, v int")
    repaired = conform.repair_key(df, "key", "k", ["v"]).collect()
    assert len(repaired) == len(rows)  # row count preserved
    for r in repaired:
        assert r.key is not None and r.key.strip() != ""  # no bad keys remain
    # already-valid keys are untouched
    valid_in = [k for k, _ in rows if k is not None and k.strip() != ""]
    valid_out = [r.key for r in repaired if not r.key.startswith("k_")]
    assert sorted(valid_in) == sorted(valid_out)


@given(
    words=st.lists(st.text(alphabet="abcd", min_size=1, max_size=5),
                   min_size=1, max_size=8),
    pad=st.sampled_from(["  ", "\t", "\n", " "]),
)
@SLOW
def test_fingerprint_whitespace_invariant(spark, words, pad):
    """Fingerprint must be invariant to whitespace layout and case."""
    clean = " ".join(words)
    noisy = pad + pad.join(w.upper() for w in words) + pad
    df = spark.createDataFrame([(clean,), (noisy,)], "text string")
    fps = [r.fp for r in df.select(text.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]


TEXTS = st.lists(
    st.text(alphabet="ab @.-015xyz\n", min_size=0, max_size=60),
    min_size=1,
    max_size=12,
)


@given(texts=TEXTS)
@SLOW
def test_pii_scrub_idempotent(spark, texts):
    """Scrubbing already-scrubbed text changes nothing (replacement
    tokens never re-match any pattern)."""
    from wistia_video_analytics_project_spark.operators import cleaning

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    once = cleaning.pii_scrub(df).select(
        "doc_id", F.col("text_scrubbed").alias("text")
    )
    twice = cleaning.pii_scrub(once)
    diff = twice.filter(
        F.col("text") != F.col("text_scrubbed")
    ).count()
    assert diff == 0


@given(texts=TEXTS)
@SLOW
def test_repetition_metrics_bounded(spark, texts):
    from wistia_video_analytics_project_spark.operators import cleaning

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = cleaning.repetition_metrics(df, n=2).collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert 0.0 <= r.dup_token_frac <= 1.0
        assert 0.0 <= r.dup_ngram_frac <= 1.0
        assert r.n_distinct_tokens <= r.n_tokens


@given(
    frac_small=st.integers(0, 10),
    frac_delta=st.integers(0, 10),
)
@SLOW
def test_stratified_sample_monotone_in_fraction(spark, frac_small, frac_delta):
    """A larger fraction selects a SUPERSET of a smaller one (nested
    samples — the property that makes downsampling reproducible)."""
    from wistia_video_analytics_project_spark.operators import corpus

    lo = frac_small / 10.0
    hi = min(1.0, (frac_small + frac_delta) / 10.0)
    df = spark.range(0, 500).select(
        F.col("id").alias("key"), F.lit("s").alias("stratum")
    )
    small = {r.key for r in corpus.stratified_sample(
        df, "stratum", {"s": lo}, "key").collect()}
    big = {r.key for r in corpus.stratified_sample(
        df, "stratum", {"s": hi}, "key").collect()}
    assert small <= big


@given(
    lts=st.lists(st.integers(0, 3600), min_size=1, max_size=15),
    rts=st.lists(st.integers(0, 3600), min_size=1, max_size=15),
    window=st.integers(1, 900),
)
@SLOW
def test_binned_range_join_equals_naive(spark, lts, rts, window):
    """For arbitrary second-offsets and window lengths the binned join
    emits exactly the naive interval predicate's pairs (bin boundaries
    are the hazard this guards)."""
    import datetime as dt

    from wistia_video_analytics_project_spark.operators import temporal

    base = dt.datetime(2024, 1, 1)
    L = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=s)) for i, s in enumerate(lts)],
        "lid long, lts timestamp",
    )
    R = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=s)) for i, s in enumerate(rts)],
        "rid long, rts timestamp",
    )
    got = {
        (r.lid, r.rid)
        for r in temporal.binned_range_join(L, R, "lts", "rts", window).collect()
    }
    naive = {
        (lid, rid)
        for lid, ls in enumerate(lts)
        for rid, rs in enumerate(rts)
        if ls - window <= rs < ls
    }
    assert got == naive


WORD = st.text(alphabet="abcdefgh", min_size=1, max_size=4)
DOC = st.lists(WORD, min_size=8, max_size=30).map(" ".join)


@given(docs=st.lists(DOC, min_size=2, max_size=6), insert=DOC)
@SLOW
def test_winnowing_guarantee_property(spark, docs, insert):
    """Any two docs sharing an inserted run of >= w + k - 1 tokens must
    appear as a winnow candidate pair (the Schleimer guarantee), for
    arbitrary surrounding text."""
    from wistia_video_analytics_project_spark.operators import dedup

    k = w = 4
    run = " ".join((insert + " " + insert).split()[: w + k - 1])
    if len(run.split()) < w + k - 1:
        run = " ".join(["zq"] * (w + k - 1))
    rows = [(i, f"{d} {run} {d}") for i, d in enumerate(docs[:2])]
    rows += [(i + 2, d) for i, d in enumerate(docs[2:])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.doc_id_a, r.doc_id_b)
        for r in dedup.winnow_candidate_pairs(
            df, k=k, w=w, max_df=len(rows)
        ).collect()
    }
    assert (0, 1) in pairs


@given(docs=st.lists(DOC, min_size=2, max_size=5))
@SLOW
def test_lm_bits_matches_python_reference(spark, docs):
    """lm_bits_per_token == the pure-Python add-k bigram reference for
    arbitrary corpora (distribution-free exactness, not just the fixed
    fixture)."""
    import math
    from collections import Counter

    from wistia_video_analytics_project_spark.operators import text as text_ops

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.bits_per_token
           for r in text_ops.lm_bits_per_token(df).collect()}

    toks = {i: d.lower().split() for i, d in rows}
    bgs = {i: list(zip(t, t[1:])) for i, t in toks.items() if len(t) >= 2}
    cb = Counter(b for bs in bgs.values() for b in bs)
    cc = Counter(b[0] for bs in bgs.values() for b in bs)
    vocab = {w for i in bgs for w in toks[i]}
    k, V = 0.5, float(len(vocab))
    for i, bs in bgs.items():
        want = -sum(
            math.log2((cb[b] + k) / (cc[b[0]] + k * V)) for b in bs
        ) / len(bs)
        assert got[i] == pytest.approx(round(want, 4), abs=1e-4), i


@given(
    docs=st.lists(
        st.text(alphabet="ab x", min_size=0, max_size=24),
        min_size=1,
        max_size=8,
    )
)
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_bpe_matches_reference_property(spark, docs):
    """Distributed BPE training equals the pure-Python reference on
    arbitrary tiny corpora — merge sequence AND final vocab, including
    degenerate inputs (empty texts, whitespace-only, single chars)."""
    from test_bpe import _ref_train

    from wistia_video_analytics_project_spark.operators import bpe

    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)],
                               "doc_id long, text string")
    got_merges, wt = bpe.train_bpe(df, num_merges=3)
    ref_merges, ref_vocab = _ref_train(docs, 3)
    assert got_merges == ref_merges
    got_vocab = {r.word: list(r.symbols) for r in wt.collect()}
    assert got_vocab == ref_vocab
    wt.unpersist()


@given(
    vals=st.lists(
        st.tuples(st.integers(-1000, 1000), st.integers(-50, 50)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    n_buckets=st.integers(1, 9),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow,
                           HealthCheck.function_scoped_fixture],
)
def test_binned_running_sum_matches_prefix(spark, vals, n_buckets):
    """For ANY unique key set and bucket count, the ladder equals the
    sequential prefix sum over keys sorted ascending."""
    from wistia_video_analytics_project_spark.operators import scale

    df = spark.createDataFrame(vals, "k long, v long")
    got = {
        r["k"]: r["running_sum"]
        for r in scale.binned_running_sum(df, ["k"], "v",
                                          n_buckets=n_buckets).collect()
    }
    acc, ref = 0, {}
    for k, v in sorted(vals):
        acc += v
        ref[k] = acc
    assert got == ref


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", "s3"]),
            st.integers(1, 10_000),
        ),
        min_size=1,
        max_size=30,
    ),
    k=st.integers(1, 5),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow,
                           HealthCheck.function_scoped_fixture],
)
def test_stratified_wor_exact_k_per_stratum(spark, rows, k):
    """For ANY weights: exactly min(k, |stratum|) rows per stratum, all
    drawn from the input, stable across reruns."""
    from wistia_video_analytics_project_spark.operators import corpus

    data = [(s, i, w) for i, (s, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "src string, id long, w long")
    out = corpus.stratified_sample_wor(df, "src", "w", k, key_col="id")
    got = out.collect()
    from collections import Counter

    per = Counter(r["src"] for r in got)
    full = Counter(s for s, _ in rows)
    assert per == {s: min(k, c) for s, c in full.items()}
    in_rows = set(data)
    assert all((r["src"], r["id"], r["w"]) in in_rows for r in got)
    again = corpus.stratified_sample_wor(df.repartition(7), "src", "w", k,
                                         key_col="id")
    assert {tuple(r) for r in again.collect()} == {tuple(r) for r in got}


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(max_codepoint=0x2FF),
            min_size=0,
            max_size=80,
        ),
        min_size=1,
        max_size=6,
    )
)
@SLOW
def test_langid_features_unit_norm_and_pure_python_parity(texts):
    """The featurizer is deterministic, dim-stable, unit-norm (or zero),
    and equals a from-scratch recomputation on arbitrary unicode —
    executor-independent by construction (no Spark session needed)."""
    import numpy as np

    from wistia_video_analytics_project_spark.operators import langid

    for t in texts:
        v = langid.ngram_feature_vector(t)
        assert v.shape == (langid.DEFAULT_DIM,)
        n = float(np.linalg.norm(v))
        assert abs(n - 1.0) < 1e-9 or n == 0.0
        assert np.array_equal(v, langid.ngram_feature_vector(t))


@given(
    n=st.integers(5, 60),
    d=st.integers(2, 10),
    ell=st.integers(2, 8),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=40, deadline=None)
def test_fd_shrink_psd_sandwich_property(n, d, ell, seed):
    """The FD shrink invariant on arbitrary matrices: 0 ⪯ A'A − B'B ⪯
    σ_ell²·I — the per-step guarantee the Liberty error bound
    telescopes over (no Spark needed; pure numpy)."""
    import numpy as np

    from wistia_video_analytics_project_spark.operators.linalg import (
        fd_shrink,
    )

    rng = np.random.RandomState(seed)
    a = rng.randn(n, d) * rng.randint(1, 10)
    b = fd_shrink(a, ell)
    diff = a.T @ a - b.T @ b
    eig = np.linalg.eigvalsh(diff)
    s = np.linalg.svd(a, compute_uv=False)
    delta = s[ell - 1] ** 2 if len(s) >= ell and n > ell else 0.0
    assert eig.min() >= -1e-8 * max(1.0, eig.max()), eig.min()
    assert eig.max() <= delta + 1e-6 * max(1.0, delta), (eig.max(), delta)


@given(
    rows=st.lists(
        st.tuples(
            # lead drawn from a TINY value pool so heavy ties are the
            # norm, plus None/NaN edges
            st.one_of(
                st.none(),
                st.just(float("nan")),
                st.sampled_from([1.0, 2.0, 7.0]),
            ),
            st.one_of(st.none(), st.just(float("nan")),
                      st.floats(-100, 100, allow_nan=False)),
        ),
        min_size=1,
        max_size=40,
    ),
    n_buckets=st.integers(1, 9),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow,
                           HealthCheck.function_scoped_fixture],
)
def test_quantile_ties_row_identity_property(spark, rows, n_buckets):
    """For ANY frame (heavy ties by construction, NULL/NaN in both the
    lead and the tiebreaker, any bucket count incl. the degenerate 1),
    bounds="quantile-ties" row_number equals the global window's."""
    from pyspark.sql import Window
    from wistia_video_analytics_project_spark.operators import scale

    # third column makes the total order unique regardless of draws
    uniq = [(k, t, i) for i, (k, t) in enumerate(rows)]
    df = spark.createDataFrame(uniq, "k double, t double, u long")
    got = scale.binned_row_number(
        df, ["k", "t", "u"], n_buckets=n_buckets,
        bounds="quantile-ties", out_col="rn",
    )
    w = Window.orderBy(F.col("k").asc(), F.col("t").asc(),
                       F.col("u").asc())
    ref = df.withColumn("rn", F.row_number().over(w))
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0
