"""Plan-shape regression tests: the scale posture, asserted.

These pin the physical-plan properties that make the engine viable at
100 TB — if a future change un-pushes a filter or turns a broadcast join
into a shuffle join, these fail."""

from __future__ import annotations

import __spark_entry__ as entrymod
from wistia_video_analytics_project_spark import plans

from conftest import SF_SMOKE


def test_pricing_summary_pushdown_and_pruning(spark):
    df = entrymod.q_pricing_summary(spark, SF_SMOKE)
    plans.assert_pushed_filter(df, "l_shipdate")
    plans.assert_read_columns_at_most(
        df,
        "lineitem.parquet",
        {"l_quantity", "l_extendedprice", "l_discount", "l_tax",
         "l_returnflag", "l_linestatus", "l_shipdate"},
    )


def test_daily_trend_filter_pushed(spark):
    df = entrymod.q_daily_plays_trend(spark, SF_SMOKE)
    plans.assert_pushed_filter(df, "event_type")
    plans.assert_read_columns_at_most(
        df, "events.parquet", {"ts", "event_type", "value"}
    )


def test_dim_join_broadcasts(spark):
    plans.assert_broadcast_join(entrymod.q_plays_by_channel(spark, SF_SMOKE))
    plans.assert_broadcast_join(entrymod.q_local_supplier_volume(spark, SF_SMOKE))


def test_topk_is_take_ordered(spark):
    plans.assert_take_ordered(entrymod.q_top10_media(spark, SF_SMOKE))
    plans.assert_take_ordered(entrymod.q_shipping_priority(spark, SF_SMOKE))


def test_shipping_priority_customer_join_unhinted(spark):
    """The customer side grows linearly with SF, so the query carries no
    broadcast hint — AQE may choose broadcast at small sf or a shuffled
    join at scale; both are acceptable plan shapes (round-2 verdict)."""
    plan = plans.executed_plan(entrymod.q_shipping_priority(spark, SF_SMOKE))
    assert (
        "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
        or "SortMergeJoin" in plan
    ), plan
    # the logical plan must NOT pin a broadcast hint on customer
    logical = str(
        entrymod.q_shipping_priority(spark, SF_SMOKE)._jdf.queryExecution().logical()
    )
    assert "UnresolvedHint" not in logical and "hint" not in logical.lower(), logical[:2000]


def test_fact_dedup_reuses_groupby_partitioning(spark):
    """model.build_fact_engagement: the groupBy is the only shuffle and
    no dedup window follows it (its keys are already unique)."""
    import datetime as dt

    from wistia_video_analytics_project_spark import schemas
    from wistia_video_analytics_project_spark.operators import model

    ev = {"type": "play", "time": 1704067200, "duration_watched": 1.0,
          "percent_watched": 1.0}
    raw = spark.createDataFrame(
        [("v1", "1.1.1.1", "US", "m1", [ev])], schemas.RAW_VISITOR
    )
    fact = model.build_fact_engagement(raw, dt.datetime(2024, 1, 1))
    plan = plans.executed_plan(fact)
    import re

    n_shuffles = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_shuffles == 1, f"expected exactly 1 shuffle, got {n_shuffles}:\n{plan}"
    assert "Window" not in plan, plan


def test_dim_builders_single_shuffle(spark):
    """model.build_dim_media / build_dim_visitor: the key dedup is the
    only shuffle — no full-row distinct in front of it."""
    import datetime as dt
    import re

    from wistia_video_analytics_project_spark import schemas
    from wistia_video_analytics_project_spark.operators import model

    run_ts = dt.datetime(2024, 1, 1)
    media = spark.createDataFrame([("m1", "intro", 1700000000)], schemas.RAW_MEDIA)
    visitors = spark.createDataFrame(
        [("v1", "1.1.1.1", "US", "m1", [])], schemas.RAW_VISITOR
    )
    for dim in (model.build_dim_media(media, run_ts),
                model.build_dim_visitor(visitors, run_ts)):
        plan = plans.executed_plan(dim)
        assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1, plan


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Date-partitioned fact + date predicate -> scan reads only the
    matching partition (PartitionFilters), the core 100 TB layout win."""
    from pyspark.sql import functions as F

    from wistia_video_analytics_project_spark import sinks

    df = spark.createDataFrame(
        [("m1", "2024-01-01", 5), ("m2", "2024-01-02", 7), ("m3", "2024-01-03", 9)],
        "media_id string, date string, plays int",
    )
    out = str(tmp_path / "fact_part")
    sinks.write_parquet(df, out, partition_by=["date"])
    q = spark.read.parquet(out).filter(F.col("date") == "2024-01-02")
    plan = plans.executed_plan(q)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "date" in m.group(1), plan
    assert q.count() == 1


def test_nested_schema_pruning_on_event_structs(spark, tmp_path):
    """Nested pruning on the raw-visitor event array (SURVEY §4.2).

    Catalyst prunes array<struct> members only in the FIELD-EXTRACTION
    form ``explode(col("events.type"))`` — exploding the whole struct and
    then accessing members reads every member. This pins the pruning-
    friendly idiom so single-field event scans stay cheap at 100 TB."""
    from pyspark.sql import functions as F

    from wistia_video_analytics_project_spark import schemas

    ev = {"type": "play", "time": 1704067200, "duration_watched": 1.0,
          "percent_watched": 2.0}
    raw = spark.createDataFrame(
        [("v1", "1.1.1.1", "US", "m1", [ev])], schemas.RAW_VISITOR
    )
    path = str(tmp_path / "raw_visitors")
    raw.write.parquet(path)
    q = spark.read.parquet(path).select(
        F.explode(F.col("events.type")).alias("t")
    )
    plan = plans.executed_plan(q)
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "duration_watched" not in scan, scan
    assert "struct<type:string>" in scan.replace(" ", ""), scan
    assert q.count() == 1


def test_regional_revenue_broadcasts_and_pushdown(spark):
    """The 6-way star join: region filter pushed to its scan, small dims
    broadcast (no shuffle exchange for supplier/nation/region sides)."""
    df = entrymod.q_regional_revenue(spark, SF_SMOKE)
    plans.assert_broadcast_join(df)
    plans.assert_pushed_filter(df, "r_name")
    plans.assert_read_columns_at_most(
        df, "orders.parquet", {"o_orderkey", "o_custkey", "o_orderdate"}
    )


def test_funnel_single_pass_one_shuffle(spark):
    """The fold-based funnel must shuffle the event stream exactly once
    (on the entity key); the step-count reduction happens on the tiny
    exploded frame."""
    import re

    from wistia_video_analytics_project_spark.operators import analytics
    from wistia_video_analytics_project_spark.sources import load_table

    events = load_table(spark, SF_SMOKE, "events")
    df = analytics.funnel_single_pass(
        events, [("view", "view"), ("click", "click"), ("purchase", "purchase")]
    )
    plan = plans.executed_plan(df)
    # exchanges that repartition the RAW events (pre-aggregation): exactly 1
    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges <= 2, plan  # entity shuffle + tiny final agg only
    plans.assert_pushed_filter(df, "event_type")


def test_runtime_bloom_filter_injects_might_contain(spark):
    """With bloom pruning scoped on (thresholds shrunk to fire at test
    scale), a selective dim filter must inject might_contain into the
    fact side of a shuffle join."""
    from pyspark.sql import functions as F

    from wistia_video_analytics_project_spark.operators.scale import (
        runtime_bloom_filter,
    )
    from wistia_video_analytics_project_spark.sources import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    orders = load_table(spark, SF_SMOKE, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with runtime_bloom_filter(
            spark,
            creation_side_threshold="10GB",
            application_side_threshold="0",
        ):
            j = (
                li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
                .groupBy("o_orderpriority")
                .count()
            )
            plan = plans.executed_plan(j)
        assert "might_contain" in plan.lower(), plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_cooccurrence_grouped_two_exchanges_and_takeordered(spark):
    """Grouped co-occurrence: exactly basket-shuffle + pair-shuffle,
    top-k as TakeOrdered (never a global sort)."""
    import re

    df = entrymod.q_part_cooccurrence(spark, SF_SMOKE)
    plan = plans.executed_plan(df)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan
    plans.assert_take_ordered(df)


def test_cohort_retention_no_second_fact_shuffle(spark):
    """Round-8 rework: the matrix computes from distinct
    (entity, month) + a window min — NO join back to the fact at all
    (the previous broadcast-join shape still shuffled the fact once
    and ran a countDistinct), and at most 3 exchanges total (one
    fact-sized with map-side partial agg, two matrix-sized)."""
    import re

    df = entrymod.q_cohort_retention(spark, SF_SMOKE)
    plan = plans.executed_plan(df)
    assert "Join" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3, plan


def test_stratified_sample_no_shuffle(spark):
    """Hash-threshold sampling is a pure filter: zero exchanges, and the
    scan reads only the projected columns."""
    from wistia_video_analytics_project_spark.operators import corpus

    df = corpus.q_stratified_sample(spark, SF_SMOKE)
    plans.assert_no_exchange(df)
    plans.assert_read_columns_at_most(
        df, "documents.parquet", {"doc_id", "source", "n_chars"}
    )


def test_contamination_benchmark_broadcasts(spark):
    """The benchmark n-gram set broadcasts; the corpus side must not
    shuffle on the n-gram key (only the per-doc aggregation exchange)."""
    import re

    from wistia_video_analytics_project_spark.operators import cleaning

    df = cleaning.q_contamination_report(spark, SF_SMOKE)
    plan = plans.executed_plan(df)
    plans.assert_broadcast_join(df)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2, plan


def test_line_dedup_hot_set_broadcasts(spark):
    """C4 line dedup: the hot-line (df >= min_df) set joins back against
    the corpus as a broadcast, never a corpus-wide shuffle join."""
    from wistia_video_analytics_project_spark.operators import cleaning

    df = cleaning.q_line_dedup_report(spark, SF_SMOKE)
    plans.assert_broadcast_join(df)


def test_repetition_metrics_no_shuffle(spark):
    """Per-doc repetition metrics are fully row-local."""
    from wistia_video_analytics_project_spark.operators import cleaning

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plans.assert_no_exchange(cleaning.repetition_metrics(docs))


def test_binned_range_join_avoids_nested_loop(spark):
    """The keyless interval join must plan as a hash/sort-merge join on
    the manufactured bin key — never BroadcastNestedLoopJoin/cartesian."""
    df = entrymod.q_purchase_view_coincidence(spark, SF_SMOKE)
    plan = plans.executed_plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan), plan


def test_skew_report_single_data_pass(spark):
    """skew_report scans the fact once: the per-key counts frame is
    cached, so BOTH consumers (totals aggregate + report join) read the
    cache instead of re-scanning the raw table, and the top-k is
    TakeOrderedAndProject."""
    df = entrymod.q_key_skew_report(spark, SF_SMOKE)
    plan = plans.executed_plan(df)
    assert plan.count("InMemoryTableScan") >= 2, plan
    plans.assert_take_ordered(df)


def test_similar_documents_partial_aggs_before_exchange(spark):
    """Inverted-index tf-idf: every aggregate partial-aggregates map-side
    (tf, df, norms, dots) — no raw-token shuffle without combining."""
    from wistia_video_analytics_project_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    df = text_ops.similar_documents(docs, threshold=0.3, max_df=100)
    plan = plans.executed_plan(df)
    assert "partial" in plan.lower(), plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_market_share_broadcasts_dims(spark):
    df = entrymod.q_nation_market_share(spark, SF_SMOKE)
    plans.assert_broadcast_join(df)
    plan = plans.executed_plan(df)
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan


def test_sliding_distinct_single_raw_scan(spark):
    """The WAU spine must read the cached pairs frame, not re-scan the
    raw stream (same regression class as the skew_report totals)."""
    df = entrymod.q_weekly_active_users(spark, SF_SMOKE)
    plan = plans.executed_plan(df)
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_winnow_fingerprints_zero_shuffle(spark):
    """Fingerprint selection is per-doc array work — no Exchange until a
    caller groups on fp (the scale property SCALE.md claims)."""
    from wistia_video_analytics_project_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plans.assert_no_exchange(dedup.winnow_fingerprints(docs))


def test_minhash_signatures_zero_shuffle(spark):
    """Round-3 shape: signature construction must stay a pure map (the
    old explode+groupBy shuffled every shingle row)."""
    from wistia_video_analytics_project_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plans.assert_no_exchange(dedup.minhash_signatures(docs))


def test_nation_year_profit_broadcasts_dims(spark):
    plans.assert_broadcast_join(entrymod.q_nation_year_profit(spark, SF_SMOKE))


def test_lm_bits_partial_aggregates_before_exchange(spark):
    """Count tables must partial-agg map-side; the only nested-loop join
    allowed is the broadcast CROSS with the 1-row vocab-size aggregate."""
    import re

    fn = entrymod.queries()["lm_bits_per_token"]
    plan = plans.executed_plan(fn(spark, SF_SMOKE))
    bnlj = re.findall(r"BroadcastNestedLoopJoin [^\n]*", plan)
    assert all("Cross" in b for b in bnlj) and len(bnlj) <= 1, bnlj
    # map-side combine on both count tables and the per-doc agg
    assert len(re.findall(r"partial_count", plan)) >= 3, plan[:2000]


def test_min_cost_supplier_broadcasts_and_prunes(spark):
    """Q2 flavor: both dim sides broadcast; the lineitem scan reads only
    the join/measure columns."""
    df = entrymod.q_min_cost_supplier(spark, SF_SMOKE)
    plans.assert_broadcast_join(df)
    plans.assert_read_columns_at_most(
        df,
        "lineitem.parquet",
        {"l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"},
    )


def test_important_part_stock_single_fact_shuffle(spark):
    """Q11 flavor: the window sum must reuse the groupBy(n_name,
    l_partkey) output without adding an extra fact-sized exchange — one
    hash exchange for the agg, one narrow one for the n_name window."""
    import re

    df = entrymod.q_important_part_stock(spark, SF_SMOKE)
    plan = plans.executed_plan(df)
    plans.assert_broadcast_join(df)
    n = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n <= 2, f"expected <=2 hash exchanges, got {n}:\n{plan[:3000]}"


def test_ship_latency_priority_prunes_orders(spark):
    df = entrymod.q_ship_latency_priority(spark, SF_SMOKE)
    plans.assert_read_columns_at_most(
        df, "orders.parquet", {"o_orderkey", "o_orderdate", "o_orderpriority"}
    )
    plans.assert_read_columns_at_most(
        df, "lineitem.parquet", {"l_orderkey", "l_shipdate"}
    )


def test_supplier_count_by_part_anti_join_broadcasts(spark):
    """Q16 flavor: the NOT IN exclusion must compile to a broadcast
    anti join, never a shuffled one (bad-supplier set is tiny)."""
    plan = plans.executed_plan(
        entrymod.q_supplier_count_by_part(spark, SF_SMOKE)
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:3000]


def test_excess_shipped_suppliers_year_filter_pushed(spark):
    df = entrymod.q_excess_shipped_suppliers(spark, SF_SMOKE)
    plans.assert_pushed_filter(df, "l_shipdate")
    plans.assert_broadcast_join(df)


def test_bitmap_distinct_two_level_mergeable_agg(spark):
    """daily_unique_users_bitmap: the bitmap path must partial-aggregate
    map-side at BOTH levels (bucket bitmaps, then the day-level count
    sum) — the mergeable-state property that makes it the incremental
    exact-distinct design at scale."""
    import re

    fn = entrymod.queries()["daily_unique_users_bitmap"]
    plan = plans.executed_plan(fn(spark, SF_SMOKE))
    assert len(re.findall(r"partial_", plan)) >= 2, plan[:3000]
    # exact-distinct without a count(DISTINCT) expand: no Expand node
    assert "Expand" not in plan, plan[:3000]


def test_mergeable_state_partial_aggregates(spark):
    """incremental_kpi_refresh: every stage (batch state, merge, report)
    must partial-aggregate map-side; no count(DISTINCT) Expand anywhere
    — distinct users come from the OR-merged bitmaps."""
    import re

    fn = entrymod.queries()["incremental_kpi_refresh"]
    plan = plans.executed_plan(fn(spark, SF_SMOKE))
    assert len(re.findall(r"partial_", plan)) >= 3, plan[:3000]
    assert "Expand" not in plan, plan[:3000]


def test_duplicated_spans_single_shuffle_topk(spark):
    """duplicated_spans: one span-keyed aggregate + TakeOrdered; the
    count-distinct over doc_id is the only Expand-free distinct path
    allowed to add an exchange."""
    fn = entrymod.queries()["duplicated_spans"]
    df = fn(spark, SF_SMOKE)
    plans.assert_take_ordered(df)


def test_bm25_query_filter_before_shuffle_and_broadcasts(spark):
    """bm25_search: the query-term IN filter must run in the scan stage
    (before the tf aggregation's exchange), and the df/stats tables must
    broadcast — the fact scan is the only large input."""
    import re

    fn = entrymod.queries()["bm25_search"]
    plan = plans.executed_plan(fn(spark, SF_SMOKE))
    plans.assert_broadcast_join(fn(spark, SF_SMOKE))
    # the IN-filter appears under the first scan's stage, not post-agg
    assert re.search(r"term#\d+ IN \(spark,query,data\)", plan) or "isin" in plan.lower() or " IN (" in plan, plan[:2000]


def test_ewma_spine_join_is_bounded(spark):
    """ewma_daily_revenue: the self-join runs over the aggregated daily
    spine (calendar-bounded), never the raw orders rows — both join
    children must be post-aggregation."""
    import re

    fn = entrymod.queries()["ewma_daily_revenue"]
    plan = plans.executed_plan(fn(spark, SF_SMOKE))
    joins = plan.count("NestedLoopJoin") + plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin")
    assert joins >= 1
    # every scan of orders.parquet feeds an aggregate before the join:
    # the plan has exactly 2 scans and >= 2 partial aggregates
    assert len(re.findall(r"orders\.parquet", plan)) <= 4
    assert len(re.findall(r"partial_sum", plan)) >= 2, plan[:3000]


def test_corr_matrix_single_pass(spark):
    """All 6 correlations must come from ONE aggregate over one scan —
    exactly one lineitem scan and one shuffle in the plan."""
    import re

    df = entrymod.q_measure_corr_matrix(spark, SF_SMOKE)
    plan = plans.executed_plan(df)
    assert plan.count("lineitem.parquet") == 1, plan
    n_shuffles = len(re.findall(r"\bExchange ", plan))
    assert n_shuffles <= 1, f"expected <=1 shuffle:\n{plan}"
    plans.assert_read_columns_at_most(
        df, "lineitem.parquet",
        {"l_quantity", "l_extendedprice", "l_discount", "l_tax"},
    )


def test_incremental_join_delta_broadcasts_dim_deltas(spark):
    """Both ΔD joins carry the broadcast hint (delta small by contract)."""
    df = entrymod.q_incremental_join_view(spark, SF_SMOKE)
    plan = plans.executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_scd2_point_in_time_is_equi_join(spark):
    """The AS-OF lookup must plan as an equi-join on the business key —
    never a broadcast nested loop over the validity ranges."""
    df = entrymod.q_scd2_point_in_time(spark, SF_SMOKE)
    plan = plans.executed_plan(df)
    # exactly one nested-loop is legitimate: the 2-row probe-date
    # crossJoin. The dim lookup itself must never nest.
    n_nested = plan.count("BroadcastNestedLoopJoin") + plan.count(
        "CartesianProduct"
    )
    assert n_nested <= 1, plan
    # the custkey equi-join is present as a hash or sort-merge join
    assert (
        "BroadcastHashJoin [c_custkey" in plan
        or "SortMergeJoin [c_custkey" in plan
        or "ShuffledHashJoin [c_custkey" in plan
        or "hashpartitioning(c_custkey" in plan
    ), plan


def test_top_nations_rank_over_aggregated_frame(spark):
    """The rank window must run AFTER the (region, nation) aggregate —
    the window input is O(nations), so the plan has the aggregate below
    the window, and the dims ride broadcast joins."""
    df = entrymod.q_top_nations_with_other(spark, SF_SMOKE)
    plan = plans.executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert plan.index("HashAggregate") < plan.index("Window"), (
        "window should consume the aggregated frame:\n" + plan
    )


def test_token_pmi_df_filter_broadcasts(spark):
    """The df-filter join-back and both count joins are broadcasts (the
    vocabulary frame is tiny); the pair stream shuffles once."""
    df = entrymod.q_token_pmi(spark, SF_SMOKE)
    plan = plans.executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_pca_stats_shuffle_is_fixed_width(spark):
    """The PCA sufficient-stats exchange moves (idx, val) scalar rows —
    d²+d+1 per partition — never the vectors: the merged frame has
    exactly two scalar columns, the expected fixed row count, and its
    shuffle partitions on idx."""
    from wistia_video_analytics_project_spark.operators import linalg
    from wistia_video_analytics_project_spark.sources.readers import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    flat = linalg.stats_flat(emb, "embedding", 64)
    assert [f.name for f in flat.schema.fields] == ["idx", "val"]
    assert {f.dataType.simpleString() for f in flat.schema.fields} == {
        "int", "double"
    }
    assert flat.count() == 64 * 64 + 64 + 1
    plan = plans.executed_plan(flat)
    assert "hashpartitioning(idx" in plan, plan
    assert "embedding" not in plan.split("ArrowEvalPython")[0].split(
        "MapInPandas"
    )[0], "vectors must not cross the exchange:\n" + plan


def test_plan_report_reads_real_plans(spark):
    """plan_report must agree with the dedicated assertions on known
    plan shapes."""
    rep = plans.plan_report(entrymod.q_plays_by_channel(spark, SF_SMOKE))
    assert rep["n_broadcast_joins"] >= 1
    assert rep["n_scans"] >= 2
    assert rep["whole_stage_codegen"] >= 1

    topk = plans.plan_report(entrymod.q_top10_media(spark, SF_SMOKE))
    assert topk["has_take_ordered"]

    pruned = plans.plan_report(entrymod.q_daily_plays_trend(spark, SF_SMOKE))
    event_scans = [
        s for s in pruned["scans"] if s["path"] and "events" in s["path"]
    ]
    assert event_scans
    for scan in event_scans:
        assert set(scan["columns"]) <= {"ts", "event_type", "value"}
        assert scan["pushed_filters"]

    corr = plans.plan_report(entrymod.q_measure_corr_matrix(spark, SF_SMOKE))
    # no data-sized hash/range shuffle at all: the only exchanges are
    # SinglePartition gathers of agg partials / the 6-row ordered result
    assert corr["n_shuffles"] == corr["n_single_partition_exchanges"]
    assert corr["n_nestedloop_joins"] == 0


def test_containment_no_cartesian_and_partial_agg(spark):
    """dedup_containment: the pair generator is a shingle-keyed
    equi-join (never a cartesian/BNL product), and the intersection
    count partial-aggregates before its exchange."""
    import re

    fn = entrymod.queries()["dedup_containment"]
    plan = plans.executed_plan(fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert len(re.findall(r"partial_", plan)) >= 2, plan[:3000]


def test_duplicated_spans_hashed_shuffles_longs(spark):
    """duplicated_spans_hashed: phase 1 aggregates on xxhash64 longs
    (TakeOrdered on the hash key), phase 2 recovers span text through a
    broadcast probe of the <=top winners — never a span-keyed shuffle of
    the winner join."""
    fn = entrymod.queries()["duplicated_spans_hashed"]
    df = fn(spark, SF_SMOKE)
    plan = plans.executed_plan(df)
    assert "xxhash64" in plan, plan[:3000]
    plans.assert_broadcast_join(df)
    assert "TakeOrderedAndProject" in plan, plan[:3000]


def test_doc_novelty_hashed_keys_on_longs(spark):
    """doc_novelty_hashed: the distinct and df-count exchanges key on
    xxhash64 longs; aggregation stays partial before each exchange."""
    import re

    fn = entrymod.queries()["doc_novelty_hashed"]
    plan = plans.executed_plan(fn(spark, SF_SMOKE))
    assert "xxhash64" in plan, plan[:3000]
    assert len(re.findall(r"partial_", plan)) >= 2, plan[:3000]


def test_logistic_stats_partial_aggregates_and_bounded_rows(spark):
    """logistic_stats_flat: the Arrow partial produces (dim+1)²+dim+3
    rows per partition and the merging aggregate partial-aggregates
    before its exchange — the collect stays dim-bounded at any scale."""
    import re

    import numpy as np

    from wistia_video_analytics_project_spark.operators import linalg
    from wistia_video_analytics_project_spark.sources.readers import load_table

    from pyspark.sql import functions as F

    emb = load_table(spark, SF_SMOKE, "embeddings").withColumn(
        "y", (F.col("label") >= 5).cast("double")
    )
    flat = linalg.logistic_stats_flat(
        emb, "embedding", "y", np.zeros(65), 64
    )
    plan = plans.executed_plan(flat)
    assert len(re.findall(r"partial_", plan)) >= 1, plan[:3000]
    assert flat.count() == 65 * 65 + 65 + 2


def test_graph_chain_plans_no_cartesian(spark):
    """The PageRank-family chains must stay equi-join + partial-agg
    ladders: no cartesian/BNL anywhere, partial aggregation before the
    per-iteration exchanges."""
    import re

    for name in ("brand_part_ppr", "part_authority_hits"):
        fn = entrymod.queries()[name]
        plan = plans.executed_plan(fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, (name, plan[:2000])
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan[:2000])
        assert len(re.findall(r"partial_", plan)) >= 2, (name, plan[:2000])


def test_gopher_report_single_scan_single_exchange_no_python(spark):
    """gopher_quality_report: the rule map is all-JVM (no Python eval
    node), source rides through the map (ONE parquet scan), and the
    only exchange is the per-source aggregate's."""
    import re

    fn = entrymod.queries()["gopher_quality_report"]
    plan = plans.executed_plan(fn(spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan[:2000]
    assert len(re.findall(r"Scan parquet|FileScan", plan)) == 1, plan[:3000]
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan[:3000]
    assert len(re.findall(r"partial_", plan)) >= 1, plan[:2000]


def test_temperature_mixture_broadcasts_no_corpus_shuffle(spark):
    """temperature_mixture: the corpus joins the tiny per-source count
    via broadcast (+ the 1-row normalizer); the only hash exchange is
    the count aggregate's own — the document rows never shuffle."""
    import re

    fn = entrymod.queries()["temperature_mixture"]
    plan = plans.executed_plan(fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    # the per-source count agg is CACHED and consumed twice (join + z
    # normalizer) — both consumers must hit the cache, not re-aggregate
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 2, plan[:3000]


def test_haar_wavelet_caches_daily_spine(spark):
    """haar_revenue_wavelet: all 8 levels re-aggregate the CACHED daily
    spine (InMemoryRelation), never re-scanning orders per level."""
    fn = entrymod.queries()["haar_revenue_wavelet"]
    plan = plans.executed_plan(fn(spark, SF_SMOKE))
    assert "InMemoryTableScan" in plan, plan[:3000]


def test_periodogram_single_scan_broadcast_stats(spark):
    """revenue_periodogram: daily spine cached once; the stats row
    reaches the projection via broadcast, not a shuffle join."""
    import re

    fn = entrymod.queries()["revenue_periodogram"]
    plan = plans.executed_plan(fn(spark, SF_SMOKE))
    # both the stats row and the projection read the cached spine
    # (explain prints the InMemoryRelation's child FileScan per use, so
    # count the cache hits, not the embedded scan text)
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 2, plan[:3000]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
        plan[:3000]
    )


def test_label_propagation_single_action_no_python(spark):
    """part_communities: the propagation rounds compile into one plan
    with no Python eval nodes (all-JVM joins/aggregates)."""
    fn = entrymod.queries()["part_communities"]
    plan = plans.executed_plan(fn(spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan[:2000]


def test_als_ann_serving_no_cartesian(spark):
    """ANN-served ALS recommendations: candidate generation is an
    equi-join on the IVF cell key — no user x catalog cartesian or
    broadcast nested loop anywhere in the serving plan."""
    from wistia_video_analytics_project_spark.operators import als

    ratings = spark.createDataFrame(
        [(u, i, 1.0 + ((u + i) % 4)) for u in range(8) for i in range(12)
         if (u + i) % 3 != 0],
        "user long, item long, rating double",
    )
    uf, itf, _ = als.als_train(
        ratings, k=3, iterations=1, reg=0.1, track_loss=False
    )
    df = als.recommend_topk_ann(
        uf.localCheckpoint(eager=True),
        itf.localCheckpoint(eager=True),
        ratings, n=2, n_centroids=4, nprobe=2,
    )
    plan = plans.executed_plan(df)
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_link_prediction_broadcasts_hubs_no_cartesian(spark):
    """copurchase_link_prediction: hub filtering is two broadcast
    semi-joins, candidates materialize only through the shared-neighbor
    equi-join — no cartesian/BNL anywhere."""
    fn = entrymod.queries()["copurchase_link_prediction"]
    plan = plans.executed_plan(fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_kneser_ney_all_jvm_with_cached_bigram_counts(spark):
    """kneser_ney_bigram: no Python eval nodes (pure JVM counts), and
    the bigram-count frame is cached and reused by the ctx/cont/types
    aggregates instead of re-exploding the corpus."""
    fn = entrymod.queries()["kneser_ney_bigram"]
    plan = plans.executed_plan(fn(spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, (
        plan[:2000]
    )
    assert plan.count("InMemoryTableScan") >= 3, plan[:3000]


def test_rake_all_jvm_and_caches_phrases(spark):
    """rake_keyphrases: gaps-and-islands segmentation stays JVM-side;
    the phrase frame is cached (reused by member join and final
    assembly)."""
    fn = entrymod.queries()["rake_keyphrases"]
    plan = plans.executed_plan(fn(spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, (
        plan[:2000]
    )
    assert "InMemoryTableScan" in plan, plan[:3000]


def test_binseg_single_scan_cached_spine(spark):
    """binseg_changepoints: both levels re-aggregate the CACHED daily
    spine; the per-level split join is a broadcast."""
    fn = entrymod.queries()["binseg_changepoints"]
    plan = plans.executed_plan(fn(spark, SF_SMOKE))
    assert "InMemoryTableScan" in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_round8_entries_no_cartesian(spark):
    """Round-8 scale posture: none of the pair-heavy round-8 entries
    may plan a CartesianProduct — item-item cosine goes through the
    basket-capped equi-join, the centroid classifier joins on dim, the
    perplexity buckets join on vocabulary keys.  (1-row broadcast
    cross joins compile to BroadcastNestedLoopJoin, which is fine —
    only the unbounded CartesianProduct is banned.)"""
    for name in (
        "item_item_cosine",
        "centroid_label_confusion",
        "perplexity_filter_buckets",
        "kn_bigram_perplexity",
        "timed_funnel_conversion",
        "logrank_purchase_segments",
    ):
        df = entrymod.queries()[name](spark, SF_SMOKE)
        plan = plans.executed_plan(df)
        assert "CartesianProduct" not in plan, f"{name}: {plan[:2000]}"


def test_centroid_confusion_broadcasts_centroids(spark):
    """The 10x64 centroid table must broadcast — a shuffle join on dim
    would exchange the exploded vector frame a second time."""
    df = entrymod.queries()["centroid_label_confusion"](spark, SF_SMOKE)
    plans.assert_broadcast_join(df)


def test_round9_entries_no_cartesian(spark):
    """Round-9 scale posture: the new rank/contingency/decile entries
    must never plan a CartesianProduct (1-row broadcast cross joins
    compile to BroadcastNestedLoopJoin, which is fine)."""
    for name in (
        "kruskal_wallis_regions",
        "brown_forsythe_weekday",
        "cohort_ltv_curve",
        "rfm_migration_matrix",
        "bigram_entropy_rate",
        "cramers_v_pairs",
        "kendall_w_concordance",
        "quantile_treatment_effect",
        "lift_table_purchase_propensity",
        "embedding_isotropy_probe",
    ):
        df = entrymod.queries()[name](spark, SF_SMOKE)
        plan = plans.executed_plan(df)
        assert "CartesianProduct" not in plan, f"{name}: {plan[:2000]}"


def test_kruskal_dims_broadcast_and_no_row_level_rank(spark):
    """Kruskal-Wallis: nation/region broadcast, and the only Window in
    the plan runs over the VALUE-level frame (rank from cumulative
    counts), never a row-number over raw orders."""
    df = entrymod.queries()["kruskal_wallis_regions"](spark, SF_SMOKE)
    plans.assert_broadcast_join(df)
    plan = plans.executed_plan(df)
    # the window's input must already be an aggregate (HashAggregate
    # between the scan and the Window) — no rank assignment at row level
    assert "row_number" not in plan.lower(), plan[:2000]


def test_isotropy_probe_no_pair_join(spark):
    """The isotropy probe must stay O(n·d): no self-join of the
    embeddings relation (the identity replaces the pair enumeration)."""
    df = entrymod.queries()["embedding_isotropy_probe"](spark, SF_SMOKE)
    plan = plans.executed_plan(df)
    assert plan.count("embeddings.parquet") <= 2, plan[:3000]
    assert "CartesianProduct" not in plan


def test_cohort_ltv_single_fact_shuffle_key(spark):
    """Cohort LTV: orders scan feeds ONE exchange keyed on o_custkey
    (window min); the cohort grid work downstream is bounded."""
    df = entrymod.queries()["cohort_ltv_curve"](spark, SF_SMOKE)
    plans.assert_read_columns_at_most(
        df, "orders.parquet",
        {"o_custkey", "o_orderdate", "o_totalprice"},
    )
