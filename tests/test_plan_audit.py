"""The committed plan-audit artifact, asserted.

``scripts/plan_audit.py`` sweeps every registry query's executed plan;
this test pins the global invariants on the committed ``PLAN_AUDIT.json``
so a query added without re-running the audit (count mismatch) or a
plan regression recorded by the audit (cartesian, row-at-a-time Python,
off-allowlist Python stage) fails CI."""

from __future__ import annotations

import json
import os

import __spark_entry__ as entrymod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
AUDIT = os.path.join(REPO, "PLAN_AUDIT.json")


def _doc():
    with open(AUDIT) as f:
        return json.load(f)


def test_audit_artifact_is_fresh():
    doc = _doc()
    assert doc["n_queries"] == len(entrymod.queries()), (
        "PLAN_AUDIT.json is stale — re-run scripts/plan_audit.py"
    )
    assert not doc["errors"]


def test_audit_artifact_matches_gate_version():
    """The committed artifact must have been regenerated under the gate
    logic at HEAD (round-11 VERDICT item 4: the round-11 gate extensions
    shipped with the round-10 artifact still committed)."""
    from scripts.plan_audit import GATE_VERSION

    assert _doc().get("gate_version") == GATE_VERSION, (
        "PLAN_AUDIT.json predates the current gate version — re-run"
        " scripts/plan_audit.py and commit the refreshed artifact"
    )


def test_no_cartesian_products_anywhere():
    assert _doc()["cartesian_products"] == []


def test_no_row_at_a_time_python_anywhere():
    assert _doc()["row_at_a_time_python"] == []


def test_python_stages_only_on_allowlist():
    assert _doc()["python_stages_off_allowlist"] == []


def test_python_allowlist_is_exact():
    """Every allowlisted query carries a Python stage in the committed
    artifact: an entry whose query went JVM-side is stale and must be
    removed from ``PYTHON_STAGE_ALLOWLIST``."""
    from scripts.plan_audit import PYTHON_STAGE_ALLOWLIST

    queries = _doc()["queries"]
    stale = sorted(
        n for n in PYTHON_STAGE_ALLOWLIST
        if queries.get(n, {}).get("python_stages", 0) == 0
    )
    assert stale == []


def test_no_unsafe_bnlj_anywhere():
    """Every BroadcastNestedLoopJoin build side must be provably tiny
    (scalar class) or explicitly allowlisted as a domain-bounded spine
    / deliberate small probe set (round-9 VERDICT item 2) — a genuine
    nested-loop join over unbounded inputs is a plan bug."""
    assert _doc()["bnlj_unsafe"] == []


def test_no_unbounded_unpartitioned_windows_anywhere():
    """SCALE.md's standing claim — every Window.orderBy without a
    partitionBy runs over a post-aggregation spine (days/groups), never
    an unreduced fact — is machine-checked by the audit's subtree walk
    (round-9 VERDICT item 3)."""
    assert _doc()["unpart_window_unbounded"] == []


def test_audit_parser_detects_shapes():
    from scripts.plan_audit import audit_one

    plan = (
        "Exchange hashpartitioning\n  CartesianProduct\n"
        "  BatchEvalPython\n  Scan parquet x\n  BroadcastHashJoin\n"
    )
    m = audit_one(plan)
    assert m["exchanges"] == 1 and m["cartesian"] and m["scans"] == 1
    assert m["row_at_a_time_python"] and m["broadcast_joins"] == 1


def test_audit_parser_distinguishes_scalar_bnlj_from_real_nested_loop():
    from scripts.plan_audit import audit_one

    scalar = (
        "+- BroadcastNestedLoopJoin BuildRight, Cross, (a#1 > avg#2)\n"
        "   :- FileScan parquet [a#1]\n"
        "   +- BroadcastExchange IdentityBroadcastMode, [plan_id=5]\n"
        "      +- Filter isnotnull(avg#2)\n"
        "         +- *(2) HashAggregate(keys=[], functions=[avg(x#3)])\n"
        "            +- Exchange SinglePartition\n"
        "               +- FileScan parquet [x#3]\n"
    )
    m = audit_one(scalar)
    assert m["bnlj"] and m["bnlj_classes"] == ["scalar"]

    nested = (
        "+- BroadcastNestedLoopJoin BuildRight, Inner, (a#1 < b#2)\n"
        "   :- FileScan parquet [a#1]\n"
        "   +- BroadcastExchange IdentityBroadcastMode, [plan_id=5]\n"
        "      +- Filter isnotnull(b#2)\n"
        "         +- FileScan parquet [b#2]\n"
    )
    m = audit_one(nested)
    assert m["bnlj"] and m["bnlj_classes"] == ["raw"]

    # a small GlobalLimit / TakeOrdered bounds the broadcast side
    limited = nested.replace("Filter isnotnull(b#2)", "GlobalLimit 1")
    assert audit_one(limited)["bnlj_classes"] == ["scalar"]
    topk = nested.replace(
        "Filter isnotnull(b#2)", "TakeOrderedAndProject(limit=101, x)"
    )
    assert audit_one(topk)["bnlj_classes"] == ["scalar"]

    # keyed aggregate = spine class (allowed only via allowlist)
    keyed = nested.replace(
        "Filter isnotnull(b#2)",
        "HashAggregate(keys=[day#7], functions=[sum(v#8)])",
    )
    assert audit_one(keyed)["bnlj_classes"] == ["spine"]

    # driver-side literal relations are scalar class
    local = nested.replace(
        "      +- Filter isnotnull(b#2)\n"
        "         +- FileScan parquet [b#2]\n",
        "      +- Scan ExistingRDD[b#2]\n",
    )
    assert audit_one(local)["bnlj_classes"] == ["scalar"]


def test_audit_parser_judges_unpartitioned_windows():
    from scripts.plan_audit import unpart_window_unbounded

    over_fact = (
        "+- Window [row_number() windowspecdefinition(k#1 ASC)"
        " AS rn#9], [k#1 ASC NULLS FIRST]\n"
        "   +- Sort [k#1 ASC NULLS FIRST], false, 0\n"
        "      +- Exchange SinglePartition\n"
        "         +- FileScan parquet [k#1]\n"
    )
    assert unpart_window_unbounded(over_fact)

    over_spine = over_fact.replace(
        "         +- FileScan parquet [k#1]\n",
        "         +- HashAggregate(keys=[k#1], functions=[count(1)])\n"
        "            +- Exchange hashpartitioning(k#1, 32)\n"
        "               +- FileScan parquet [k#1]\n",
    )
    assert not unpart_window_unbounded(over_spine)

    # PARTITIONED window over the raw fact is fine (no single-task
    # collapse) — three bracket groups on the Window line
    partitioned = (
        "+- Window [row_number() windowspecdefinition(g#2, k#1 ASC)"
        " AS rn#9], [g#2], [k#1 ASC NULLS FIRST]\n"
        "   +- Sort [g#2 ASC, k#1 ASC], false, 0\n"
        "      +- Exchange hashpartitioning(g#2, 32)\n"
        "         +- FileScan parquet [g#2,k#1]\n"
    )
    assert not unpart_window_unbounded(partitioned)

    # cached spine: the walk descends through InMemoryRelation into the
    # cached plan and finds the aggregate there
    cached = (
        "+- Window [sum(c#3L) windowspecdefinition(k#1 ASC) AS s#9L],"
        " [k#1 ASC NULLS FIRST]\n"
        "   +- Exchange SinglePartition\n"
        "      +- InMemoryTableScan [k#1, c#3L]\n"
        "            +- InMemoryRelation [k#1, c#3L], StorageLevel(...)\n"
        "                  +- HashAggregate(keys=[k#1], functions=[count(1)])\n"
        "                     +- FileScan parquet [k#1]\n"
    )
    assert not unpart_window_unbounded(cached)


def test_audit_parser_treats_bnlj_as_pass_through_in_window_walk():
    """A BNLJ's output cardinality is left*right, so it must NOT bound
    the window walk (round-10 ADVICE): the streamed side still has to
    hit an aggregate/limit before any scan."""
    from scripts.plan_audit import unpart_window_findings

    over_bnlj_raw = (
        "+- Window [sum(v#3) windowspecdefinition(k#1 ASC) AS s#9],"
        " [k#1 ASC NULLS FIRST]\n"
        "   +- Sort [k#1 ASC NULLS FIRST], false, 0\n"
        "      +- Exchange SinglePartition\n"
        "         +- BroadcastNestedLoopJoin BuildRight, Cross\n"
        "            :- FileScan parquet [k#1,v#3]\n"
        "            +- BroadcastExchange IdentityBroadcastMode\n"
        "               +- HashAggregate(keys=[], functions=[sum(v#3)])\n"
        "                  +- FileScan parquet [v#3]\n"
    )
    assert unpart_window_findings(over_bnlj_raw) == {"raw"}

    # the legitimate cum-share shape: BOTH branches bounded (day-spine
    # aggregate x scalar broadcast) stays clean
    over_bnlj_ok = over_bnlj_raw.replace(
        "            :- FileScan parquet [k#1,v#3]\n",
        "            :- HashAggregate(keys=[day#7], functions=[sum(v#3)])\n"
        "            :  +- FileScan parquet [v#3]\n",
    )
    assert unpart_window_findings(over_bnlj_ok) == set()


def test_audit_parser_resolves_grouping_expressions_to_entity_keys():
    """Round-10 VERDICT item 2: an entity key laundered through a
    cast/concat prints as the opaque ``_groupingexpression`` alias —
    the gate must resolve it back to the source column and flag."""
    from scripts.plan_audit import unpart_window_findings

    laundered = (
        "+- Window [sum(s#7) windowspecdefinition(s#7 ASC) AS cum#16],"
        " [s#7 ASC NULLS FIRST]\n"
        "   +- Sort [s#7 ASC NULLS FIRST], false, 0\n"
        "      +- Exchange SinglePartition\n"
        "         +- HashAggregate(keys=[_groupingexpression#18],"
        " functions=[sum(p#3)], output=[k#6, s#7])\n"
        "            +- Project [p#3, concat(u, cast(o_custkey#1L as"
        " string)) AS _groupingexpression#18]\n"
        "               +- FileScan parquet [o_custkey#1L,p#3]\n"
    )
    assert unpart_window_findings(laundered) == {"entity"}

    # a calendar cast through the same alias machinery stays clean
    calendar = laundered.replace(
        "concat(u, cast(o_custkey#1L as string))", "cast(ts#1 as date)"
    )
    assert unpart_window_findings(calendar) == set()

    # an alias the plan text cannot resolve fails CLOSED (entity)
    unresolved = laundered.replace(
        "            +- Project [p#3, concat(u, cast(o_custkey#1L as"
        " string)) AS _groupingexpression#18]\n"
        "               +- FileScan parquet [o_custkey#1L,p#3]\n",
        "            +- FileScan parquet [p#3]\n",
    )
    assert unpart_window_findings(unresolved) == {"entity"}


def test_gexp_walk_balances_square_brackets():
    """Round-11 ADVICE: the backward walk balanced only parentheses, so
    a grouping expression with a top-level array index (GetArrayItem
    prints as ``col#3[0]``) truncated at the ``[`` and lost the source
    column — an entity key inside such an expression slipped the entity
    gate fail-OPEN.  The walk must recover the full expression, and a
    recovery that dangles on an unmatched bracket must be discarded
    (alias stays unresolved -> fail closed)."""
    from scripts.plan_audit import _gexp_defs, unpart_window_findings

    indexed = (
        "+- Window [sum(s#7) windowspecdefinition(s#7 ASC) AS cum#16],"
        " [s#7 ASC NULLS FIRST]\n"
        "   +- Sort [s#7 ASC NULLS FIRST], false, 0\n"
        "      +- Exchange SinglePartition\n"
        "         +- HashAggregate(keys=[_groupingexpression#18],"
        " functions=[sum(p#3)], output=[k#6, s#7])\n"
        "            +- Project [p#3, split(doc_id#5, -, -1)[0] AS"
        " _groupingexpression#18]\n"
        "               +- FileScan parquet [doc_id#5,p#3]\n"
    )
    defs = _gexp_defs(indexed)
    assert defs["_groupingexpression#18"] == "split(doc_id#5, -, -1)[0]"
    assert unpart_window_findings(indexed) == {"entity"}

    # same shape over a calendar column stays clean (proves the flag
    # above comes from the recovered doc_id, not from failing closed)
    calendar = indexed.replace("doc_id#5", "day#5")
    assert unpart_window_findings(calendar) == set()

    # a recovery that walks off the plan start with an unmatched ']'
    # must be discarded, leaving the alias unresolved -> entity
    dangling = "0] AS _groupingexpression#18"
    assert "_groupingexpression#18" not in _gexp_defs(dangling)


def test_audit_parser_classifies_pandas_grouped_spines():
    """FlatMapGroupsInPandas / AggregateInPandas print their grouping
    keys as the FIRST bracket group (no ``keys=[...]``): an
    entity-grouped applyInPandas under a single-task window must flag
    ``entity``; a day-grouped one stays a clean spine."""
    from scripts.plan_audit import unpart_window_findings

    base = (
        "+- Window [sum(v#3) windowspecdefinition(v#3 ASC) AS s#9],"
        " [v#3 ASC NULLS FIRST]\n"
        "   +- Sort [v#3 ASC NULLS FIRST], false, 0\n"
        "      +- Exchange SinglePartition\n"
        "         +- FlatMapGroupsInPandas [{key}], f(v#3)#6, [v#3]\n"
        "            +- Exchange hashpartitioning({key}, 32)\n"
        "               +- FileScan parquet [v#3]\n"
    )
    assert unpart_window_findings(base.format(key="o_custkey#1L")) == {
        "entity"
    }
    assert unpart_window_findings(base.format(key="day#1")) == set()


def test_live_entity_grouped_apply_in_pandas_flags(spark):
    """End-to-end: a real applyInPandas grouped on an entity id feeding
    an unpartitioned window flags ``entity`` on the executed plan."""
    import pandas as pd
    from pyspark.sql import Window, functions as F

    from scripts.plan_audit import unpart_window_findings
    from wistia_video_analytics_project_spark.plans import executed_plan
    from conftest import SF_SMOKE
    from wistia_video_analytics_project_spark.sources.readers import (
        load_table,
    )

    orders = load_table(spark, SF_SMOKE, "orders")

    def head1(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.head(1)

    per_cust = orders.groupBy("o_custkey").applyInPandas(
        head1, schema=orders.schema
    )
    w = Window.orderBy("o_totalprice")
    out = per_cust.withColumn("cum", F.sum("o_totalprice").over(w))
    assert unpart_window_findings(executed_plan(out)) == {"entity"}


def test_gexp_resolution_flags_live_laundered_plan(spark):
    """End-to-end on a REAL executed plan (not synthetic text): an
    entity key hidden inside concat() under an unpartitioned window
    must flag ``entity``; the same shape grouped on a calendar cast
    must stay clean."""
    from pyspark.sql import Window, functions as F

    from scripts.plan_audit import unpart_window_findings
    from wistia_video_analytics_project_spark.plans import executed_plan
    from conftest import SF_SMOKE
    from wistia_video_analytics_project_spark.sources.readers import (
        load_table,
    )

    orders = load_table(spark, SF_SMOKE, "orders")
    w = Window.orderBy("s")
    laundered = (
        orders.groupBy(
            F.concat(F.lit("u"), F.col("o_custkey")).alias("k")
        )
        .agg(F.sum("o_totalprice").alias("s"))
        .withColumn("cum", F.sum("s").over(w))
    )
    assert unpart_window_findings(executed_plan(laundered)) == {"entity"}

    calendar = (
        orders.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("m")
        )
        .agg(F.sum("o_totalprice").alias("s"))
        .withColumn("cum", F.sum("s").over(w))
    )
    assert unpart_window_findings(executed_plan(calendar)) == set()


def test_audit_parser_flags_entity_keyed_single_task_windows():
    from scripts.plan_audit import unpart_window_findings

    base = (
        "+- Window [sum(c#3L) windowspecdefinition(k#1 ASC) AS s#9L],"
        " [k#1 ASC NULLS FIRST]\n"
        "   +- Exchange SinglePartition\n"
        "      +- HashAggregate(keys=[{key}], functions=[count(1)])\n"
        "         +- FileScan parquet [{key}]\n"
    )
    # entity-keyed aggregate: grows with data -> flagged
    assert unpart_window_findings(base.format(key="o_custkey#5L")) == {
        "entity"
    }
    assert unpart_window_findings(base.format(key="user_id#5L")) == {
        "entity"
    }
    # domain-bounded spine (day) -> clean
    assert unpart_window_findings(base.format(key="day#5")) == set()


def test_audit_parser_counts_global_sorts():
    from scripts.plan_audit import audit_one

    plan = (
        "+- Sort [d#1 ASC NULLS FIRST], true, 0\n"
        "   +- Exchange rangepartitioning(d#1 ASC NULLS FIRST, 32)\n"
        "      +- Sort [d#1 ASC NULLS FIRST], false, 0\n"
    )
    assert audit_one(plan)["row_sorts"] == 1
