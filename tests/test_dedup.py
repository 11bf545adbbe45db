"""Dedup extensions: exact, jaccard, minhash recall, simhash behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wistia_video_analytics_project_spark.operators import dedup

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def test_exact_dedup_finds_synthesized_copies(spark, docs):
    doubled = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 10_000))
    groups = dedup.exact_dedup_groups(doubled)
    n_docs = docs.count()
    assert groups.count() == n_docs  # every doc now has exactly one copy
    assert groups.filter(F.col("n_copies") != 2).count() == 0
    flagged = dedup.exact_dedup(doubled)
    assert flagged.filter("is_canonical").count() == n_docs
    # canonical is the min id, i.e. the original
    assert flagged.filter("is_canonical AND doc_id >= 10000").count() == 0


def test_minhash_lsh_recall_vs_exact(spark, docs):
    """Every strongly-similar pair (exact jaccard >= 0.3) must be recalled
    by the 8x4-banded MinHash at threshold 0.1."""
    exact = {
        (r.doc_id_a, r.doc_id_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert exact, "testdata should contain planted near-duplicates"
    approx = {
        (r.doc_id_a, r.doc_id_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.1).collect()
    }
    missed = exact - approx
    assert not missed, f"minhash missed strong pairs: {missed}"


def test_minhash_estimate_close_to_exact(spark, docs):
    exact = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    est = {
        (r.doc_id_a, r.doc_id_b): r.est_jaccard
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.1).collect()
    }
    for pair, j in exact.items():
        assert pair in est
        assert abs(est[pair] - j) < 0.35  # 32-slot estimator tolerance


def test_simhash_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "totally different words entirely unrelated content here")],
        "doc_id long, text string",
    )
    sh = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    assert sh[1] == sh[2]
    pairs = {(r.doc_id_a, r.doc_id_b): r.hamming
             for r in dedup.simhash_pairs(df, max_hamming=0).collect()}
    assert pairs == {(1, 2): 0}


def _self_join_intersections(docs, max_df=None):
    """Reference pair generation: a shingle self-join over the hashed
    shingle stream, with stop shingles (df > max_df) removed first.
    Returns (doc_id_a, doc_id_b, n_common, sza, szb)."""
    sh = dedup._hashed_shingles(docs, "text", "doc_id", 3)
    if max_df is not None:
        hot = (sh.groupBy("shingle").count()
               .filter(F.col("count") > max_df).select("shingle"))
        sh = sh.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.withColumnRenamed("doc_id", "doc_id_a")
    b = sh.withColumnRenamed("doc_id", "doc_id_b")
    return (
        a.join(b, "shingle")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(sizes.toDF("doc_id_a", "sza"), "doc_id_a")
        .join(sizes.toDF("doc_id_b", "szb"), "doc_id_b")
    )


def test_ngram_jaccard_strategies_agree(spark, docs):
    """Grouped in-place pair generation == a shingle self-join, with and
    without the max_df guard."""
    for max_df in (None, 50):
        grouped = {
            (r.doc_id_a, r.doc_id_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(
                docs, threshold=0.1, max_df=max_df
            ).collect()
        }
        jac = F.round(F.col("n_common").cast("double")
                      / (F.col("sza") + F.col("szb") - F.col("n_common")), 4)
        joined = {
            (r.doc_id_a, r.doc_id_b): r.jaccard
            for r in _self_join_intersections(docs, max_df)
            .select("doc_id_a", "doc_id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= 0.1)
            .collect()
        }
        assert grouped == joined
        assert grouped, "testdata should contain near-duplicate pairs"


def test_ngram_jaccard_max_df_guard_keeps_strong_pairs(spark, docs):
    """The stop-shingle guard prunes hot shingles but must not lose the
    strongly-similar pairs (their overlap lives in rarer shingles too)."""
    full = {(r.doc_id_a, r.doc_id_b)
            for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    guarded = {(r.doc_id_a, r.doc_id_b)
               for r in dedup.ngram_jaccard_pairs(
                   docs, threshold=0.3, max_df=50).collect()}
    assert full, "expected planted near-dups"
    assert full <= guarded, full - guarded


def test_connected_components_chain_converges(spark):
    """A path graph deeper than one hop: labels must propagate the full
    chain length (iterative hash-min), plus a disjoint pair."""
    from wistia_video_analytics_project_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7)], "doc_id_a long, doc_id_b long"
    )
    out = {
        r.node: r.cluster_id
        for r in connected_components(pairs, "doc_id_a", "doc_id_b").collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, 7: 6}


def test_connected_components_adversarial_chain(spark):
    """Pointer jumping makes a deep chain converge in O(log d) rounds;
    hitting the cap without a fixpoint raises instead of returning
    silently wrong labels."""
    from wistia_video_analytics_project_spark.operators.dedup import (
        connected_components,
    )

    n = 200  # one-hop propagation would need 200 rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_id_a long, doc_id_b long"
    )
    out = {
        r.node: r.cluster_id
        for r in connected_components(
            pairs, "doc_id_a", "doc_id_b", max_iterations=12
        ).collect()
    }
    assert set(out.values()) == {0} and len(out) == n + 1
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, "doc_id_a", "doc_id_b", max_iterations=2)


def test_connected_components_clusters_are_shallow(spark):
    """The 8-hop-closure oracle for dedup_clusters is exact only while
    near-dup components stay shallow — pin that the testdata clusters
    are small (size-1 bounds diameter)."""
    from wistia_video_analytics_project_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
        _docs,
    )

    pairs = ngram_jaccard_pairs(_docs(spark, SF_SMOKE), threshold=0.1, n=3)
    cc = connected_components(pairs, "doc_id_a", "doc_id_b")
    biggest = (
        cc.groupBy("cluster_id").count().agg({"count": "max"}).collect()[0][0]
    )
    assert biggest is not None and biggest <= 9


def test_incremental_exact_dedup_semantics(spark):
    store_docs = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], "doc_id long, text string"
    )
    store = store_docs.select(dedup.fingerprint("text").alias("fingerprint")).distinct()
    batch = spark.createDataFrame(
        [
            (10, "seen before"),     # dup of store -> dropped
            (11, "brand new"),       # kept
            (12, "brand new"),       # within-batch dup of 11 -> dropped
            (13, "another new one"), # kept
        ],
        "doc_id long, text string",
    )
    kept = dedup.incremental_exact_dedup(batch, store)
    assert {r.doc_id for r in kept.collect()} == {11, 13}
    # store update cycle: appending kept fingerprints makes a re-run of
    # the same batch drop everything
    new_store = store.unionByName(kept.select("fingerprint")).distinct()
    assert dedup.incremental_exact_dedup(batch, new_store).count() == 0


def test_incremental_exact_matches_full_dedup(spark, docs):
    """Two-step incremental ingest == one-shot dedup of the full corpus:
    same canonical set."""
    half = docs.filter("doc_id < 250")
    rest = docs.filter("doc_id >= 250")
    store_kept = dedup.incremental_exact_dedup(
        half, spark.createDataFrame([], "fingerprint string")
    )
    store = store_kept.select("fingerprint").distinct()
    batch_kept = dedup.incremental_exact_dedup(rest, store)
    incremental_ids = {r.doc_id for r in store_kept.collect()} | {
        r.doc_id for r in batch_kept.collect()
    }
    full_ids = {
        r.doc_id for r in dedup.exact_dedup(docs).filter("is_canonical").collect()
    }
    assert incremental_ids == full_ids


def test_winnow_guarantee_and_candidates(spark):
    """Winnowing guarantee: a shared run of >= w + k - 1 tokens always
    shares a fingerprint; disjoint docs share none. k=4, w=4 -> any
    7-token common substring must collide."""
    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens
    rows = [
        (1, f"intro words here {shared} tail one"),
        (2, f"{shared} completely different ending text"),
        (3, "nothing in common with anything else at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.doc_id_a, r.doc_id_b)
        for r in dedup.winnow_candidate_pairs(docs, k=4, w=4, max_df=10).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_winnow_fingerprint_density_and_short_docs(spark):
    """Selected fingerprints ~ 2/(w+1) of k-grams (far fewer than all);
    docs shorter than k tokens are excluded, docs with < w k-grams
    contribute exactly their global min."""
    import random

    words = [f"w{i}" for i in range(50)]
    rng = random.Random(7)
    long_text = " ".join(rng.choice(words) for _ in range(400))
    docs = spark.createDataFrame(
        [(1, long_text), (2, "too short"), (3, "exactly four tokens here")],
        "doc_id long, text string",
    )
    fps = dedup.winnow_fingerprints(docs, k=4, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    n_grams = 400 - 4 + 1
    assert len(by_doc[1]) < n_grams * 0.6  # dense docs select a small subset
    assert len(by_doc[1]) > n_grams * 0.1
    assert 2 not in by_doc  # < k tokens: no k-grams
    assert len(by_doc[3]) == 1  # one k-gram -> its min


def test_winnow_layout_independent(spark, docs):
    a = {(r.doc_id_a, r.doc_id_b, r.n_shared)
         for r in dedup.winnow_candidate_pairs(docs).collect()}
    b = {(r.doc_id_a, r.doc_id_b, r.n_shared)
         for r in dedup.winnow_candidate_pairs(docs.repartition(13)).collect()}
    assert a == b


def test_incremental_winnow_dedup_semantics(spark, docs):
    """Tail-perturbed copies of store docs drop against the fingerprint
    store; novel docs and the earliest member of a within-batch near-dup
    group survive."""
    store_docs = docs.filter("doc_id < 200")
    store = dedup.winnow_fingerprints(store_docs).select("fp").distinct()
    copies = store_docs.filter("doc_id < 3").select(
        (F.col("doc_id") + 9_000).alias("doc_id"),
        F.concat("text", F.lit(" tail x")).alias("text"),
    )
    novel = docs.filter("doc_id >= 200 AND doc_id < 220").select("doc_id", "text")
    novel_dup = docs.filter("doc_id = 200").select(
        (F.col("doc_id") + 9_500).alias("doc_id"),
        F.concat("text", F.lit(" tail y")).alias("text"),
    )
    batch = copies.unionByName(novel).unionByName(novel_dup)
    kept = {r.doc_id for r in
            dedup.incremental_winnow_dedup(batch, store).collect()}
    assert kept & set(range(200, 220))        # novel content survives
    assert not kept & {9000, 9001, 9002}      # store near-dups dropped
    assert 9700 not in kept                   # within-batch dup of 200 dropped
    assert 200 in kept                        # the earlier member wins


def test_containment_catches_subset_copy_jaccard_misses(spark):
    """A short doc fully quoted inside a much longer one: containment of
    the short side ~1.0 while symmetric Jaccard is diluted below any
    usable threshold."""
    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(60))
    rows = [(1, short), (2, f"{filler} {short} {filler}")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = dedup.containment_pairs(docs, threshold=0.9).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.doc_id_a, r.doc_id_b) == (1, 2)
    assert r.containment_a_in_b >= 0.99  # short doc fully contained
    assert r.containment_b_in_a < 0.1    # tiny fraction of the long doc
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.1).collect()
    assert not jac  # symmetric Jaccard misses the subset copy


def test_containment_matches_self_join(spark, docs):
    """Grouped in-place pair generation behind the max_df guard == a
    shingle self-join over the same guarded shingles."""
    got = {(r.doc_id_a, r.doc_id_b, r.containment_a_in_b, r.containment_b_in_a)
           for r in dedup.containment_pairs(docs, threshold=0.4, max_df=50).collect()}
    c_ab = F.round(F.col("n_common") / F.col("sza"), 4)
    c_ba = F.round(F.col("n_common") / F.col("szb"), 4)
    ref = {tuple(r) for r in _self_join_intersections(docs, max_df=50)
           .select("doc_id_a", "doc_id_b", c_ab, c_ba)
           .filter(F.greatest(c_ab, c_ba) >= 0.4).collect()}
    assert got == ref and got


def test_containment_layout_independent(spark, docs):
    a = {(r.doc_id_a, r.doc_id_b, r.containment_a_in_b, r.containment_b_in_a)
         for r in dedup.containment_pairs(docs, threshold=0.4).collect()}
    b = {(r.doc_id_a, r.doc_id_b, r.containment_a_in_b, r.containment_b_in_a)
         for r in dedup.containment_pairs(docs.repartition(11),
                                          threshold=0.4).collect()}
    assert a == b and a  # planted near-dups guarantee non-empty


def test_duplicated_spans_hashed_matches_string_path(spark, docs):
    """With an unbinding top-k (top >= all qualifying spans) the hashed
    two-phase plan must recover the identical span set; with a binding
    top the (n_docs, n_occurrences) profile of the winners must match
    (tie-break keys differ: span text vs xxhash64)."""
    big = 10_000
    want = [(r.span, r.n_occurrences, r.n_docs)
            for r in dedup.duplicated_spans(docs, n=10, top=big).collect()]
    assert want and len(want) < big  # limit genuinely unbinding
    got = [(r.span, r.n_occurrences, r.n_docs)
           for r in dedup.duplicated_spans(docs, n=10, top=big,
                                           hashed=True).collect()]
    assert sorted(got) == sorted(want)

    k = 20
    want_k = sorted((r.n_docs, r.n_occurrences) for r in
                    dedup.duplicated_spans(docs, n=10, top=k).collect())
    got_k = sorted((r.n_docs, r.n_occurrences) for r in
                   dedup.duplicated_spans(docs, n=10, top=k,
                                          hashed=True).collect())
    assert got_k == want_k


def test_winnow_grouped_pairs_match_join_form(spark, docs):
    """r14 internals pin: the grouped in-place C(df,2) pair generation
    must be row-identical to the df-filter + fp self-join it replaced
    (the join form reconstructed here as the reference)."""
    from pyspark.sql import functions as F

    k, w, max_df = 4, 4, 10
    got = {
        (r.doc_id_a, r.doc_id_b, r.n_shared)
        for r in dedup.winnow_candidate_pairs(
            docs, k=k, w=w, max_df=max_df
        ).collect()
    }
    e = dedup.winnow_fingerprints(docs, k, w)
    keep = (
        e.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter((F.col("__df") >= 2) & (F.col("__df") <= max_df))
        .select("fp")
    )
    e2 = e.join(keep, "fp")
    a = e2.select(F.col("doc_id").alias("doc_id_a"), "fp")
    b = e2.select(F.col("doc_id").alias("doc_id_b"), "fp")
    want = {
        (r.doc_id_a, r.doc_id_b, r.n_shared)
        for r in a.join(b, ["fp"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .collect()
    }
    assert got == want and got
