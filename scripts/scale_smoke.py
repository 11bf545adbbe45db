#!/usr/bin/env python
"""Scale-up smoke: how core operators behave as data grows 10x beyond
the largest testdata SF.

Synthesizes 10x/30x the sf0.1 events table IN-PLAN (union of id-shifted
copies — no files written, no testdata touched) and times the fact build
and daily trend at each multiple. Sub-linear growth in wall-clock per
row indicates the plans amortize (scan-bound, partial-agg before
shuffle); super-linear growth would flag a scaling bug.

Usage: python scripts/scale_smoke.py  (results recorded in SCALE.md)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from wistia_video_analytics_project_spark.session import get_spark, scoped_conf
from wistia_video_analytics_project_spark.sources import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def multiply(events, k: int):
    out = events
    for i in range(1, k):
        out = out.unionByName(
            events.withColumn("event_id", F.col("event_id") + i * 10_000_000)
            .withColumn("user_id", F.col("user_id") + i * 1_000_000)
        )
    return out


def fact_build(events):
    return (
        events.filter(F.col("event_type") == "view")
        .groupBy(F.col("user_id"), F.to_date("ts").alias("date"))
        .agg(
            F.count(F.lit(1)).alias("play_count"),
            F.round(F.sum("value"), 2).alias("total_watch"),
        )
    )


def daily_trend(events):
    return (
        events.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
    )


def funnel(events):
    from wistia_video_analytics_project_spark.operators import analytics

    return analytics.funnel_single_pass(
        events, [("view", "view"), ("click", "click"), ("purchase", "purchase")]
    )


def sessionize(events):
    from wistia_video_analytics_project_spark.operators import temporal

    return temporal.session_stats(
        events, "user_id", "ts", tiebreakers=("event_id",)
    )


def mergeable_state(events):
    from wistia_video_analytics_project_spark.operators import mergeable

    return mergeable.state_report(mergeable.daily_state(events))


def kendall_daily(events):
    """O(days²) pair stage over a per-day aggregate: the pair count is
    CONSTANT as events grow (same day span), so wall-clock must stay
    scan-bound — the round-6 bounded-pairing design claim."""
    from pyspark.sql import functions as F

    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("y"),
    )
    a = daily.select(F.col("day").alias("d1"), F.col("x").alias("x1"),
                     F.col("y").alias("y1"))
    b = daily.select(F.col("day").alias("d2"), F.col("x").alias("x2"),
                     F.col("y").alias("y2"))
    dx, dy = F.col("x2") - F.col("x1"), F.col("y2") - F.col("y1")
    return a.join(b, F.col("d1") < F.col("d2")).agg(
        F.sum(F.when(dx * dy > 0, 1).otherwise(0)).alias("c"),
        F.sum(F.when(dx * dy < 0, 1).otherwise(0)).alias("d"),
    )


def seq_patterns(events):
    """Three min-aggregation levels; intermediates = fact x type-count,
    so growth must track the scan, never square."""
    from pyspark.sql import functions as F

    ev = events.select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    lvl1 = ev.groupBy("user_id", F.col("event_type").alias("a")).agg(
        F.min("us").alias("ta")
    )
    lvl2 = (
        ev.alias("e")
        .join(
            lvl1.alias("l1"),
            (F.col("e.user_id") == F.col("l1.user_id"))
            & (F.col("e.us") > F.col("l1.ta")),
        )
        .groupBy(F.col("e.user_id").alias("user_id"), "a",
                 F.col("e.event_type").alias("b"))
        .agg(F.min("e.us").alias("tb"))
    )
    return (
        ev.alias("e")
        .join(
            lvl2.alias("l2"),
            (F.col("e.user_id") == F.col("l2.user_id"))
            & (F.col("e.us") > F.col("l2.tb")),
        )
        .groupBy("a", "b", F.col("e.event_type").alias("c"))
        .agg(F.countDistinct(F.col("e.user_id")).alias("n_users"))
    )


OPS = (
    ("kendall_daily", kendall_daily),
    ("seq_patterns", seq_patterns),
    ("fact_build", fact_build),
    ("daily_trend", daily_trend),
    ("funnel_1pass", funnel),
    ("sessionize", sessionize),
    ("mergeable_state", mergeable_state),
)


def multiply_docs(docs, k: int):
    """Id-shifted, text-perturbed replicas: near-dup structure per copy
    survives, but copies are not exact duplicates of each other."""
    out = docs
    for i in range(1, k):
        out = out.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + i * 10_000_000)
            .withColumn(
                "text",
                F.concat(F.col("text"), F.lit(f" replica tag {i} end")),
            )
        )
    return out


def dedup_minhash(docs):
    from wistia_video_analytics_project_spark.operators import dedup

    return dedup.minhash_lsh_pairs(docs, threshold=0.1, n=3)


def dedup_jaccard_guarded(k):
    """max_df scales WITH the corpus: a fixed absolute cutoff admits
    k× hotter shingles under k× replication — the guard is per-corpus,
    not per-shingle (SCALE.md, dedup ladder)."""
    def run(docs):
        from wistia_video_analytics_project_spark.operators import dedup

        return dedup.ngram_jaccard_pairs(
            docs, threshold=0.1, n=3, max_df=25 * k
        )

    return run


def repetition(docs):
    from wistia_video_analytics_project_spark.operators import cleaning

    return cleaning.repetition_metrics(docs, n=3)


def tfidf_similar(k):
    """max_df scales with the corpus for the same reason as the jaccard
    guard (a fixed cutoff admits k-times-hotter terms under k-times
    replication)."""
    def run(docs):
        from wistia_video_analytics_project_spark.operators import text

        return text.similar_documents(docs, threshold=0.5, max_df=100 * k)

    return run


def lm_bits(docs):
    from wistia_video_analytics_project_spark.operators import text

    return text.lm_bits_per_token(docs)


def winnow(k):
    """max_df scales with the corpus (same argument as the other guards)."""
    def run(docs):
        from wistia_video_analytics_project_spark.operators import dedup

        return dedup.winnow_candidate_pairs(docs, max_df=100 * k)

    return run


def source_jsd(docs):
    from wistia_video_analytics_project_spark.operators import text

    return text.source_divergence(docs)


def dup_spans(docs):
    from wistia_video_analytics_project_spark.operators import dedup

    return dedup.duplicated_spans(docs, n=10, top=20)


def bm25(docs):
    from wistia_video_analytics_project_spark.operators import text

    return text.bm25_rank(docs, ["spark", "query", "data"], k=10)


def gopher(docs):
    from wistia_video_analytics_project_spark.operators import cleaning

    return cleaning.gopher_rules(docs)


def langid_featurize(docs):
    from wistia_video_analytics_project_spark.operators import langid

    return langid.hashed_char_ngram_features(docs)


def langid_train_smoke(docs):
    """Full train loop (featurize -> 2 IRLS iterations).  The langid
    100 TB posture is featurize-linear / train-jobs-CONSTANT: each IRLS
    iteration is ONE shared-scan sufficient-stats job regardless of
    class count or corpus size, so wall-clock should grow only with the
    scan, never with iteration-count x corpus interplay."""
    from wistia_video_analytics_project_spark.operators import langid

    langs = ["en", "de"]
    feats = langid.hashed_char_ngram_features(
        docs.filter(F.col("lang").isin(langs)), dim=256,
        keep_cols=("lang",),
    ).withColumn(
        "label_idx",
        F.when(F.col("lang") == "en", F.lit(0)).otherwise(F.lit(1))
        .cast("long"),
    )
    w, b, _losses = langid.langid_train(
        feats, langs, dim=256, iterations=2
    )
    # return a 1-action frame so the harness's count() drives nothing
    # extra: training already ran its own jobs above
    return feats.limit(1)


def doc_ops(k):
    return (
        ("minhash_lsh", dedup_minhash),
        (f"jaccard_df{25 * k}", dedup_jaccard_guarded(k)),
        ("repetition", repetition),
        (f"tfidf_sim_df{100 * k}", tfidf_similar(k)),
        ("lm_bits", lm_bits),
        (f"winnow_df{100 * k}", winnow(k)),
        ("source_jsd", source_jsd),
        ("dup_spans", dup_spans),
        ("bm25", bm25),
        ("gopher_rules", gopher),
        ("langid_feats", langid_featurize),
        ("langid_train", langid_train_smoke),
    )


def multiply_pairs(pairs, k: int):
    """Id-shifted disjoint replicas of the co-purchase edge set: each
    copy preserves the community structure, so LPA work should scale
    linearly in edges with constant rounds."""
    out = pairs
    for i in range(1, k):
        out = out.unionByName(
            pairs.withColumn("item_a", F.col("item_a") + i * 10_000_000)
            .withColumn("item_b", F.col("item_b") + i * 10_000_000)
        )
    return out


def lpa_rounds5(pairs):
    from wistia_video_analytics_project_spark.operators import graph

    return graph.label_propagation(
        pairs, a="item_a", b="item_b", weight="pair_count", rounds=5
    )


def multiply_docs_mutated(docs, k: int):
    """Id-shifted doc replicas with a PER-REPLICA letter substitution
    (a frequent letter translated to a rare one), so each replica
    contributes a distinct word population — the unigram trainer's
    distinct-word table grows ~k-fold, unlike verbatim replication
    (which only inflates counts and leaves the EM work constant)."""
    out = docs
    for i in range(1, k):
        out = out.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + i * 10_000_000)
            .withColumn(
                "text",
                F.translate(
                    F.col("text"),
                    "etaoins"[(i - 1) % 7],
                    "zqxjkvw"[(i - 1) % 7],
                ),
            )
        )
    return out


def multiply_ratings(ratings, k: int):
    """Disjoint id-shifted replicas of the (user, item, rating) matrix:
    entity count scales k-fold, per-entity degree stays constant, so
    ALS's join/accumulate scan should scale linearly while the batched
    solve keeps its constant per-batch overhead."""
    out = ratings
    for i in range(1, k):
        out = out.unionByName(
            ratings.withColumn("user", F.col("user") + i * 10_000_000)
            .withColumn("item", F.col("item") + i * 10_000_000)
        )
    return out


def als_ladder(spark, release_caches) -> None:
    from wistia_video_analytics_project_spark.operators import als

    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    base = (
        li.filter(F.col("l_partkey") <= 10000)
        .join(
            orders.select("o_orderkey", "o_custkey").filter(
                F.col("o_custkey") <= 3000
            ),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("o_custkey").alias("user"),
            F.col("l_partkey").alias("item"),
        )
        .agg(F.log1p(F.sum("l_quantity")).alias("rating"))
        .localCheckpoint(eager=True)  # freeze: time the trainer, not the build
    )
    for k in (1, 4, 8, 16):
        rr = multiply_ratings(base, k)
        best = min(
            _time(
                lambda: als.als_train(
                    rr, k=8, iterations=2, reg=0.1, track_loss=False
                )[0].count()
            )
            for _ in range(2)
        )
        release_caches()
        n = rr.count()
        print(f"x{k:>2} ({n:>9,} ratings) als_train2   : {best:6.2f}s "
              f"({n / best / 1e3:6.1f} K ratings/s)")


def unigram_ladder(spark, release_caches) -> None:
    from wistia_video_analytics_project_spark.operators import unigram

    docs = load_table(spark, SF_DIR, "documents")
    docs.count()
    for k in (1, 4, 8, 16):
        dd = multiply_docs_mutated(docs, k)
        best = min(
            _time(
                lambda: unigram.train_unigram(
                    dd, max_vocab=400, iterations=2, min_word_freq=2
                )
            )
            for _ in range(2)
        )
        release_caches()
        n = dd.count()
        print(f"x{k:>2} ({n:>9,} docs) unigram_em2  : {best:6.2f}s "
              f"({n / best / 1e3:6.1f} K docs/s)")


def kn_ladder(spark, release_caches) -> None:
    from wistia_video_analytics_project_spark.operators import ngram_lm

    docs = load_table(spark, SF_DIR, "documents")
    docs.count()
    for k in (1, 4, 8):
        dd = multiply_docs_mutated(docs, k)
        best = min(
            _time(
                lambda: ngram_lm.kneser_ney_bigram(
                    dd, top_k=30
                ).count()
            )
            for _ in range(2)
        )
        release_caches()
        n = dd.count()
        print(f"x{k:>2} ({n:>9,} docs) kn_bigram    : {best:6.2f}s "
              f"({n / best / 1e3:6.1f} K docs/s)")


def itemcos_ladder(spark, release_caches) -> None:
    """item_item_cosine's heavy stage (round-8 VERDICT item 4): the
    within-basket pair join + co-count + degree-normalized cosine,
    under the same ≤50-line basket cap as the driver binding.  Replicas
    are id-shifted on BOTH order and part keys (disjoint baskets AND
    disjoint catalogs), so pair volume scales exactly linearly — a
    super-linear wall curve would flag the join, not the data."""
    li = load_table(spark, SF_DIR, "lineitem")
    all_pairs = li.select("l_orderkey", "l_partkey").distinct()
    small = (
        all_pairs.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("__bs"))
        .filter(F.col("__bs") <= 50)
        .select("l_orderkey")
    )
    base = all_pairs.join(small, "l_orderkey").localCheckpoint(eager=True)

    def run(pairs):
        deg = pairs.groupBy("l_partkey").agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
        a, b = pairs.alias("a"), pairs.alias("b")
        co = (
            a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
            .groupBy(
                F.col("a.l_partkey").alias("item_a"),
                F.col("b.l_partkey").alias("item_b"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("co_count"))
            .filter(F.col("co_count") >= 2)
        )
        withdeg = co.join(
            deg.select(F.col("l_partkey").alias("item_a"),
                       F.col("deg").alias("deg_a")), "item_a",
        ).join(
            deg.select(F.col("l_partkey").alias("item_b"),
                       F.col("deg").alias("deg_b")), "item_b",
        )
        cos = F.col("co_count").cast("double") / F.sqrt(
            F.col("deg_a").cast("double") * F.col("deg_b").cast("double")
        )
        return (
            withdeg.select("item_a", "item_b", cos.alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("item_a"), F.asc("item_b"))
            .limit(20)
        )

    for k in (1, 4, 8, 16):
        pp = base
        for i in range(1, k):
            pp = pp.unionByName(
                base.withColumn(
                    "l_orderkey", F.col("l_orderkey") + i * 100_000_000
                ).withColumn(
                    "l_partkey", F.col("l_partkey") + i * 100_000_000
                )
            )
        best = min(_time(lambda: run(pp).count()) for _ in range(2))
        release_caches()
        n = pp.count()
        print(f"x{k:>2} ({n:>9,} basket-lines) item_cosine : {best:6.2f}s "
              f"({n / best / 1e3:6.1f} K lines/s)")


def ppl_ladder(spark, release_caches) -> None:
    """perplexity_filter_buckets' dominant cost (round-8 VERDICT item
    4): the KN scoring scan — train bigram stats on the corpus, explode
    every doc's bigrams, join the vocabulary-sized model tables, reduce
    to per-doc bits.  Docs are mutated replicas (multiply_docs_mutated)
    so vocabulary and bigram-type counts grow with the corpus like real
    data, not k identical shards."""
    from wistia_video_analytics_project_spark.operators import ngram_lm

    docs = load_table(spark, SF_DIR, "documents")
    docs.count()

    def run(dd):
        bc = ngram_lm.bigram_counts(dd).localCheckpoint(eager=True)
        ctx = bc.groupBy("w1").agg(
            F.sum("c12").cast("long").alias("c1"),
            F.count(F.lit(1)).cast("long").alias("n_follow"),
        )
        cont = bc.groupBy("w2").agg(
            F.count(F.lit(1)).cast("long").alias("n_precede")
        )
        types = bc.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
        from wistia_video_analytics_project_spark.operators import text

        base = (
            dd.filter(F.col("text").isNotNull())
            .select(F.col("doc_id"), text.tokens("text").alias("__t"))
            .filter(F.size("__t") >= 2)
        )
        per_doc = base.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__t) - 1), i -> "
                    "struct(element_at(__t, i) AS w1, "
                    "element_at(__t, i + 1) AS w2))"
                )
            ).alias("__b"),
        ).groupBy("doc_id", "__b.w1", "__b.w2").agg(
            F.count(F.lit(1)).cast("long").alias("ec")
        )
        p_kn = (
            F.greatest(F.col("c12").cast("double") - F.lit(0.75), F.lit(0.0))
            / F.col("c1").cast("double")
            + F.lit(0.75)
            * F.col("n_follow").cast("double") / F.col("c1").cast("double")
            * F.col("n_precede").cast("double") / F.col("n_types").cast("double")
        )
        return (
            per_doc.join(ctx, "w1")
            .join(cont, "w2")
            .join(bc, ["w1", "w2"], "left")
            .crossJoin(F.broadcast(types))
            .groupBy("doc_id")
            .agg(F.sum(-F.col("ec").cast("double") * F.log(p_kn)).alias("nll"))
        )

    for k in (1, 4, 8, 16):
        dd = multiply_docs_mutated(docs, k)
        best = min(_time(lambda: run(dd).count()) for _ in range(2))
        release_caches()
        n = dd.count()
        print(f"x{k:>2} ({n:>9,} docs) kn_doc_bits  : {best:6.2f}s "
              f"({n / best / 1e3:6.1f} K docs/s)")


def abandon_ladder(spark, release_caches) -> None:
    """streaming_abandoned_purchases' state posture (round-8 VERDICT
    item 4): the left-outer stream-stream join driven to completion on
    k-fold replicated events (disjoint users, SAME time span — so event
    RATE grows k-fold while the watermark window stays fixed).  The
    claim under test: state is bounded by rate x (window + watermark),
    never total history — peak state rows should scale ~k while
    throughput (events/s) RISES as the fixed checkpoint overhead
    amortizes."""
    import tempfile

    from wistia_video_analytics_project_spark.streaming import (
        stream_stream_window_join,
    )

    events = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    for k in (1, 4, 8):
        ev = multiply(events, k)
        stage = os.path.join(
            tempfile.gettempdir(), f"abandon_ladder_{os.getpid()}_{k}"
        )
        ev.write.mode("overwrite").parquet(stage)
        n = ev.count()

        def run_once() -> int:
            stream = spark.readStream.schema(ev.schema).parquet(stage)
            p = stream.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("event_id").alias("purchase_id"), "ts"
            )
            v = stream.filter(F.col("event_type") == "view").select(
                "user_id", F.col("event_id").alias("view_id"),
                F.col("ts").alias("vts"),
            )
            joined = stream_stream_window_join(
                p, v, ["user_id"], "ts", "vts",
                window="1 hour", watermark="2 hours", how="leftOuter",
            )
            with scoped_conf(spark, {"spark.sql.shuffle.partitions": 8}):
                q = (
                    joined.writeStream.outputMode("append")
                    .format("memory")
                    .queryName(f"abandon_ladder_{k}")
                    .start()
                )
                try:
                    q.processAllAvailable()
                    peak = max(
                        (
                            op["numRowsTotal"]
                            for pr in q.recentProgress
                            for op in (pr.get("stateOperators") or [])
                        ),
                        default=0,
                    )
                finally:
                    q.stop()
            return peak

        peaks: list[int] = []
        best = min(_time(lambda: peaks.append(run_once())) for _ in range(2))
        release_caches()
        print(f"x{k:>2} ({n:>9,} events) abandon_join : {best:6.2f}s "
              f"({n / best / 1e3:6.1f} K events/s, peak state rows "
              f"{max(peaks):,})")


def bigram_entropy_ladder(spark, release_caches) -> None:
    """bigram_entropy_rate's corpus-wide stage (round-9 addition): the
    per-source bigram count + windowed conditional-entropy reduce, on
    letter-mutated replicas so the bigram vocabulary grows with the
    corpus (the adversarial case for the grouped-count posture)."""
    from pyspark.sql import Window

    docs = load_table(spark, SF_DIR, "documents")
    docs.count()

    def run(dd):
        toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        base = dd.filter(
            F.col("text").isNotNull() & (F.size(toks) >= 2)
        ).select("source", "doc_id", toks.alias("t"))
        ex = base.select(
            "source", "doc_id", F.posexplode("t").alias("i", "w")
        )
        wd = Window.partitionBy("doc_id").orderBy("i")
        bg = ex.select(
            "source",
            F.col("w").alias("w1"),
            F.lead("w").over(wd).alias("w2"),
        ).filter(F.col("w2").isNotNull())
        c12 = bg.groupBy("source", "w1", "w2").agg(
            F.count(F.lit(1)).cast("long").alias("c12")
        )
        wc1 = Window.partitionBy("source", "w1")
        terms = c12.select(
            "source", "c12",
            F.sum("c12").over(wc1).cast("long").alias("c1"),
        )
        return terms.groupBy("source").agg(
            F.sum(
                F.col("c12").cast("double")
                * F.log(F.col("c1").cast("double")
                        / F.col("c12").cast("double"))
            ).alias("hsum")
        )

    for k in (1, 4, 16):
        dd = multiply_docs_mutated(docs, k)
        best = min(_time(lambda: run(dd).count()) for _ in range(2))
        release_caches()
        n = dd.count()
        print(f"x{k:>2} ({n:>9,} docs) bigram_ent   : {best:6.2f}s "
              f"({n / best / 1e3:6.1f} K docs/s)")


def stats9_ladder(spark, release_caches) -> None:
    """Round-9 heavy-stats tier (round-9 VERDICT item 7): the grouped-
    pass cores of shapley_channel_attribution, weibull_survival_fit
    (KM risk-table build), granger_views_purchases and
    pacf_daily_revenue, on id-shifted event replicas.  All four reduce
    the fact to a per-user or per-day spine in ONE grouped pass; the
    downstream algebra (16-row lattice, <=31-row regression, moment
    matrix, Durbin-Levinson) is constant-size — so wall-clock must
    stay scan-bound as events grow."""
    from pyspark.sql import Window

    events = load_table(spark, SF_DIR, "events")
    events.count()

    def shapley_core(ev):
        def has(t):
            return F.max(
                F.when(F.col("event_type") == t, F.lit(1)).otherwise(F.lit(0))
            )

        per_user = ev.groupBy("user_id").agg(
            has("view").alias("v"), has("click").alias("c"),
            has("signup").alias("s"), has("error").alias("e"),
            has("purchase").alias("p"),
        )
        mask = (F.col("v") + F.col("c") * 2 + F.col("s") * 4
                + F.col("e") * 8).cast("int")
        return per_user.groupBy(mask.alias("mask")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("p").alias("conv")
        )

    def km_risk_core(ev):
        per_user = ev.groupBy("user_id").agg(
            F.min(F.to_date("ts")).alias("first"),
            F.max(F.to_date("ts")).alias("last"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.to_date("ts"))
            ).alias("purchase"),
        )
        durations = per_user.select(
            F.coalesce(
                F.datediff("purchase", "first"), F.datediff("last", "first")
            ).alias("t"),
            F.col("purchase").isNotNull().alias("observed"),
        )
        return durations.groupBy("t").agg(
            F.sum(F.when(F.col("observed"), 1).otherwise(0)).alias("d"),
            F.count(F.lit(1)).alias("exits"),
        )

    def granger_core(ev):
        daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long").alias("x"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long").alias("y"),
        )
        wd = Window.orderBy("day")
        lagged = daily.select(
            "y",
            F.lag("y").over(wd).alias("y1"),
            F.lag("x").over(wd).alias("x1"),
        ).filter(F.col("y1").isNotNull())
        d = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
        return lagged.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(d("y") * d("y1")).cast("decimal(38,0)").alias("s1y"),
            F.sum(d("y") * d("x1")).cast("decimal(38,0)").alias("s2y"),
            F.sum(d("y1") * d("x1")).cast("decimal(38,0)").alias("s12"),
        )

    def pacf_core(ev):
        daily = ev.filter(F.col("event_type") == "purchase").groupBy(
            F.to_date("ts").alias("day")
        ).agg(F.sum("value").alias("rev"))
        w = Window.orderBy("day")
        lagged = daily.select(
            "rev",
            *[F.lag("rev", k).over(w).alias(f"l{k}") for k in range(1, 5)],
        )
        return lagged.agg(
            *[F.corr("rev", f"l{k}").alias(f"r{k}") for k in range(1, 5)]
        )

    cores = [("shapley_mask", shapley_core), ("km_risk", km_risk_core),
             ("granger_mom", granger_core), ("pacf_corr", pacf_core)]
    for k in (1, 4, 16):
        ev = multiply(events, k)
        n = ev.count()
        for name, fn in cores:
            best = min(_time(lambda: fn(ev).count()) for _ in range(2))
            release_caches()
            print(f"x{k:>2} ({n:>9,} rows) {name:12s}: {best:6.2f}s "
                  f"({n / best / 1e6:6.1f} M rows/s)")


def ladder_ladder(spark, release_caches) -> None:
    """Round-10 distributed-rank crossover: exact global row_number via
    the single-task window vs scale.binned_row_number, on per-entity
    aggregates of growing event replicas. The ladder pays fixed
    small-shuffle overhead at x1; the window's one task holds the
    whole entity population, so its wall grows with the data while
    the ladder's stays flat-ish — this section MEASURES the crossover
    the round-10 conversions are built on."""
    from pyspark.sql import Window

    from wistia_video_analytics_project_spark.operators.scale import (
        binned_row_number,
    )

    from wistia_video_analytics_project_spark.operators.scale import (
        binned_id_gaps,
        binned_prefix_ops,
    )

    for n in (1_000_000, 4_000_000, 16_000_000):
        per_user = spark.range(n).select(
            F.col("id").alias("user_id"),
            (F.xxhash64("id") % 1_000_003).cast("double").alias("v"),
        ).localCheckpoint(eager=True)  # freeze: time the rank, not the gen
        w = Window.orderBy(F.asc("v"), F.asc("user_id"))
        best_w = min(
            _time(
                lambda: per_user.withColumn(
                    "rn", F.row_number().over(w)
                ).agg(F.sum("rn")).collect()
            )
            for _ in range(2)
        )
        release_caches()
        best_l = min(
            _time(
                lambda: binned_row_number(
                    per_user, ["v", "user_id"], out_col="rn"
                ).agg(F.sum("rn")).collect()
            )
            for _ in range(2)
        )
        release_caches()
        print(
            f"({n:>10,} entities) global_rank : window {best_w:6.2f}s"
            f" vs ladder {best_l:6.2f}s ({best_w / best_l:4.2f}x)"
        )
        # fused prefix ops (running sum + rank over one bucketing) vs
        # the same two ops as one single-task window pass
        w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        best_w2 = min(
            _time(
                lambda: per_user.withColumn("rn", F.row_number().over(w))
                .withColumn("cs", F.sum("v").over(w_run))
                .agg(F.sum("rn"), F.sum("cs")).collect()
            )
            for _ in range(2)
        )
        release_caches()
        best_l2 = min(
            _time(
                lambda: binned_prefix_ops(
                    per_user, ["v", "user_id"],
                    sum_cols={"cs": "v"}, rank_col="rn",
                ).agg(F.sum("rn"), F.sum("cs")).collect()
            )
            for _ in range(2)
        )
        release_caches()
        print(
            f"({n:>10,} entities) prefix_fused: window {best_w2:6.2f}s"
            f" vs ladder {best_l2:6.2f}s ({best_w2 / best_l2:4.2f}x)"
        )
        # id-gap scan (seam-aware lead) vs the global lead window
        ids = per_user.filter(F.pmod(F.xxhash64("user_id"), F.lit(10)) < 9
                              ).select("user_id")
        w_id = Window.orderBy("user_id")

        def gaps_window():
            nxt = ids.withColumn("nxt", F.lead("user_id").over(w_id))
            return (
                nxt.filter(F.col("nxt") > F.col("user_id") + 1)
                .agg(F.count(F.lit(1)), F.sum("nxt")).collect()
            )

        best_w3 = min(_time(gaps_window) for _ in range(2))
        release_caches()
        best_l3 = min(
            _time(
                lambda: binned_id_gaps(ids, "user_id")
                .agg(F.count(F.lit(1)), F.sum("gap_end")).collect()
            )
            for _ in range(2)
        )
        release_caches()
        print(
            f"({n:>10,} entities) id_gaps     : window {best_w3:6.2f}s"
            f" vs ladder {best_l3:6.2f}s ({best_w3 / best_l3:4.2f}x)"
        )


def skew_ladder(spark, release_caches) -> None:
    """Round-10 VERDICT item 4: on a Zipf/power-law lead key the
    fixed-width bucketing concentrates nearly every row into one fat
    bucket — correct output, but the within-bucket window is one task
    again.  ``bounds="quantile"`` (equi-depth edges from
    approx_percentile) restores ~n_buckets-way parallelism.  This rung
    measures both variants' wall and their fattest-bucket share on the
    same frame."""
    from wistia_video_analytics_project_spark.operators.scale import (
        _range_bucketed,
        binned_row_number,
    )

    for n in (1_000_000, 4_000_000, 16_000_000):
        # floor(1e9/(id+1)): power-law mass at the bottom of a huge
        # range; largest single-value tie stays a tiny share
        df = spark.range(n).select(
            F.floor(F.lit(1_000_000_000) / (F.col("id") + 1)).alias("k"),
            F.col("id").alias("tie"),
        ).localCheckpoint(eager=True)
        shares = {}
        for label, bounds in (("fixed", None), ("qtile", "quantile")):
            per = (
                _range_bucketed(df, "k", 64, bounds)
                .groupBy("__bucket")
                .count()
                .agg(F.max("count"))
                .collect()[0][0]
            )
            shares[label] = per / n
            release_caches()
        best = {}
        for label, bounds in (("fixed", None), ("qtile", "quantile")):
            best[label] = min(
                _time(
                    lambda: binned_row_number(
                        df, ["k", "tie"], bounds=bounds, out_col="rn"
                    ).agg(F.sum("rn")).collect()
                )
                for _ in range(2)
            )
            release_caches()
        print(
            f"({n:>10,} rows) zipf_rank  : fixed {best['fixed']:6.2f}s"
            f" (fat bucket {shares['fixed']:5.1%})"
            f" vs equi-depth {best['qtile']:6.2f}s"
            f" (fat bucket {shares['qtile']:5.1%})"
            f" ({best['fixed'] / best['qtile']:4.2f}x)"
        )


def ties_ladder(spark, release_caches) -> None:
    """Round 12: a HEAVY-TIED lead (one value holding 50% of rows)
    merges equi-depth buckets back into one fat task — the degeneration
    SCALE.md round-11 called irreducible.  ``bounds="quantile-ties"``
    splits each heavy value by the tiebreaker's quantile edges.  This
    rung reproduces the SCALE.md round-12 table: read the fat-share
    column as the scale story (1 task -> ~n_buckets over the tied
    mass) and the wall column honestly (the mode pays two extra passes,
    which only amortize once a single task's rows exceed a core's
    budget — it LOSES at local 16M scale).

    Row counts default to the round-12 rungs; ``TIES_ROWS`` (comma
    list) overrides — the round-13 crossover measurement runs
    ``TIES_ROWS=64000000`` (and narrower-core variants via
    ``SPARK_GRAFT_CPUS``) to find where the wall ratio crosses 1x
    instead of extrapolating the 1M->16M monotone trend."""
    from wistia_video_analytics_project_spark.operators.scale import (
        _range_bucketed,
        binned_row_number,
    )

    rows = tuple(
        int(r) for r in os.environ.get(
            "TIES_ROWS", "1000000,4000000,16000000"
        ).split(",")
    )
    for n in rows:
        # 50% of rows tie on one lead value; the rest spread over 100k
        df = spark.range(n).select(
            F.when(F.col("id") % 2 == 0, F.lit(777.0))
            .otherwise((F.col("id") % 100_000).cast("double"))
            .alias("k"),
            F.col("id").alias("tie"),
        ).localCheckpoint(eager=True)
        shares, best = {}, {}
        for label, bounds in (
            ("qtile", "quantile"), ("ties", "quantile-ties")
        ):
            per = (
                _range_bucketed(df, "k", 64, bounds, tie="tie")
                .groupBy("__bucket")
                .count()
                .agg(F.max("count"))
                .collect()[0][0]
            )
            shares[label] = per / n
            release_caches()
            best[label] = min(
                _time(
                    lambda: binned_row_number(
                        df, ["k", "tie"], bounds=bounds, out_col="rn"
                    ).agg(F.sum("rn")).collect()
                )
                for _ in range(2)
            )
            release_caches()
        print(
            f"({n:>10,} rows) tied_rank  : equi-depth"
            f" {best['qtile']:6.2f}s (fat bucket {shares['qtile']:5.1%})"
            f" vs tie-split {best['ties']:6.2f}s"
            f" (fat bucket {shares['ties']:5.1%})"
            f" ({best['qtile'] / best['ties']:4.2f}x)"
        )


def main() -> None:
    from wistia_video_analytics_project_spark.cache import release_caches

    known = {"events", "docs", "lpa", "als", "unigram", "kn",
             "itemcos", "ppl", "abandon", "bigram", "stats9", "ladder",
             "skew", "ties"}
    sections = set(sys.argv[1:]) or set(known)
    unknown = sections - known
    if unknown:
        raise SystemExit(
            f"unknown section(s) {sorted(unknown)}; choose from "
            f"{sorted(known)}"
        )
    spark = get_spark("scale-smoke")
    if "als" in sections:
        als_ladder(spark, release_caches)
    if "unigram" in sections:
        unigram_ladder(spark, release_caches)
    if "kn" in sections:
        kn_ladder(spark, release_caches)
    if "itemcos" in sections:
        itemcos_ladder(spark, release_caches)
    if "ppl" in sections:
        ppl_ladder(spark, release_caches)
    if "abandon" in sections:
        abandon_ladder(spark, release_caches)
    if "bigram" in sections:
        bigram_entropy_ladder(spark, release_caches)
    if "stats9" in sections:
        stats9_ladder(spark, release_caches)
    if "ladder" in sections:
        ladder_ladder(spark, release_caches)
    if "skew" in sections:
        skew_ladder(spark, release_caches)
    if "ties" in sections:
        ties_ladder(spark, release_caches)
    if not sections & {"events", "docs", "lpa"}:
        spark.stop()
        return
    if "events" in sections:
        base = load_table(spark, SF_DIR, "events")
        base.count()  # warm
        for k in (1, 10, 30):
            ev = multiply(base, k)
            for name, fn in OPS:
                best = min(
                    _time(lambda: fn(ev).count()) for _ in range(2)
                )
                # operator-internal cache.persist registrations must not stay
                # pinned while the NEXT op is timed (bench.py precedent)
                release_caches()
                rows = ev.count()
                print(f"x{k:>2} ({rows:>9,} rows) {name:12s}: {best:6.2f}s "
                      f"({rows / best / 1e6:6.1f} M rows/s)")
    if "docs" in sections:
        docs = load_table(spark, SF_DIR, "documents")
        docs.count()
        for k in (1, 4, 8):
            dd = multiply_docs(docs, k)
            for name, fn in doc_ops(k):
                best = min(_time(lambda: fn(dd).count()) for _ in range(2))
                release_caches()
                rows = dd.count()
                print(f"x{k:>2} ({rows:>9,} docs) {name:14s}: {best:6.2f}s "
                      f"({rows / best / 1e3:6.1f} K docs/s)")
    if "lpa" in sections:
        from wistia_video_analytics_project_spark.operators.graph import (
            cooccurrence_pairs,
        )

        li = load_table(spark, SF_DIR, "lineitem").select(
            "l_orderkey", "l_partkey"
        ).distinct()
        base_pairs = (
            cooccurrence_pairs(li, "l_orderkey", "l_partkey")
            .filter(F.col("pair_count") >= 2)
            .localCheckpoint(eager=True)  # freeze: time the LPA, not the build
        )
        for k in (1, 4, 8):
            pp = multiply_pairs(base_pairs, k)
            best = min(
                _time(lambda: lpa_rounds5(pp).count()) for _ in range(2)
            )
            release_caches()
            edges = pp.count()
            print(f"x{k:>2} ({edges:>9,} edges) lpa_rounds5  : {best:6.2f}s "
                  f"({edges / best / 1e3:6.1f} K edges/s)")
    spark.stop()


def _time(f) -> float:
    t0 = time.perf_counter()
    f()
    return time.perf_counter() - t0


if __name__ == "__main__":
    main()
