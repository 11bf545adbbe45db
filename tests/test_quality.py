"""Quality operators Q1-Q5: audits, dedup determinism, uniqueness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wistia_video_analytics_project_spark.operators import quality


def test_null_empty_audit_counts(spark):
    df = spark.createDataFrame(
        [("a", 1.0), (None, None), ("", 2.0), ("  ", 3.0)],
        "s string, v double",
    )
    got = {r.column: r for r in quality.null_empty_audit(df).collect()}
    assert got["s"].null_count == 1
    assert got["s"].empty_count == 2  # "" and "  "
    assert got["v"].null_count == 1 and got["v"].empty_count == 0
    assert got["s"].total_count == 4


def test_dedup_keep_first_deterministic(spark):
    rows = [("k", 3, "c"), ("k", 1, "a"), ("k", 2, "b"), ("j", 9, "z")]
    df = spark.createDataFrame(rows, "key string, ord int, payload string")
    out = quality.dedup_keep_first(df, ["key"], order_by=["ord"])
    got = {r.key: r.payload for r in out.collect()}
    assert got == {"k": "a", "j": "z"}
    # repartition shouldn't change the winner (determinism)
    out2 = quality.dedup_keep_first(df.repartition(7), ["key"], order_by=["ord"])
    assert {r.key: r.payload for r in out2.collect()} == got


def test_dedup_idempotent(spark):
    df = spark.createDataFrame(
        [("k", i, f"p{i}") for i in range(5)] + [("j", 0, "q")],
        "key string, ord int, payload string",
    )
    once = quality.dedup_keep_first(df, ["key"], order_by=["ord"])
    twice = quality.dedup_keep_first(once, ["key"], order_by=["ord"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    assert once.count() == 2


def test_duplicate_groups_and_assert_unique(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1)], "key string, v int"
    )
    dupes = quality.duplicate_groups(df, ["key"]).collect()
    assert len(dupes) == 1 and dupes[0].key == "a" and dupes[0].dup_count == 2
    with pytest.raises(ValueError, match="uniqueness violated"):
        quality.assert_unique(df, ["key"])
    quality.assert_unique(df.filter("v = 1"), ["key"])  # no raise


def test_quality_report(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1)], "key string, v int"
    )
    r = quality.quality_report(df, ["key", "v"]).collect()[0]
    assert r.row_count == 3 and r.distinct_key == 2 and r.distinct_v == 2


def test_approx_count_distinct_close_to_exact(spark):
    """The at-scale HLL++ path stays within its configured rsd."""
    from conftest import SF_ORACLE
    from wistia_video_analytics_project_spark.sources import load_table

    events = load_table(spark, SF_ORACLE, "events")
    approx = {
        r.event_type: r.approx_users
        for r in events.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("approx_users"))
        .collect()
    }
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for t, n in exact.items():
        assert abs(approx[t] - n) / n < 0.05, (t, approx[t], n)


def test_sql_string_predicates_and_first(spark):
    """P8 (filter by SQL-string expression) and L2 (first()) from the
    reference inventory — both flow through the same Catalyst plans."""
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1)], "key string, v int"
    )
    dupes = quality.duplicate_groups(df, ["key"]).filter("dup_count > 1")
    assert dupes.first().key == "a"
    assert df.filter("v = 1 AND key = 'b'").count() == 1


def test_approx_percentile_within_band(spark):
    from conftest import SF_ORACLE
    from wistia_video_analytics_project_spark.sources import load_table

    events = load_table(spark, SF_ORACLE, "events")
    row = events.agg(
        F.percentile_approx("value", 0.5, 10000).alias("ap50"),
        F.percentile("value", F.lit(0.5)).alias("p50"),
    ).collect()[0]
    assert abs(row.ap50 - row.p50) / row.p50 < 0.02


def test_chunk_documents_boundaries(spark):
    from wistia_video_analytics_project_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j k"), (2, "  "), (3, None), (4, "solo")],
        "doc_id long, text string",
    )
    rows = sorted(
        (r.doc_id, r.chunk_id, r.chunk_text, r.n_tokens)
        for r in chunk_documents(df, chunk_size=5, stride=3).collect()
    )
    # doc 1: 11 tokens, starts 0,3,6,9 -> lens 5,5,5,2; blank/null: none
    assert rows == [
        (1, 0, "a b c d e", 5),
        (1, 1, "d e f g h", 5),
        (1, 2, "g h i j k", 5),
        (1, 3, "j k", 2),
        (4, 0, "solo", 1),
    ]


def make_chunk_udtf(chunk_size: int = 50, stride: int = 40):
    """Python UDTF form of ``text.chunk_documents`` (one input text ->
    many chunk rows): the independent reference the HOF is checked
    against. Register then use via LATERAL:

        spark.udtf.register("chunk", make_chunk_udtf())
        spark.sql("SELECT d.doc_id, c.* FROM docs d, LATERAL chunk(d.text) c")
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_id int, chunk_text string, n_tokens int")
    class Chunker:
        def eval(self, text: str):  # noqa: D102 - UDTF contract
            if text is None:
                return
            toks = text.strip().split()
            if not toks:
                return
            for ci, s in enumerate(range(0, len(toks), stride)):
                window = toks[s : s + chunk_size]
                yield ci, " ".join(window), len(window)

    return Chunker


def test_chunk_udtf_matches_hof(spark):
    from wistia_video_analytics_project_spark.operators.text import chunk_documents
    from wistia_video_analytics_project_spark.session import configure_runtime
    from wistia_video_analytics_project_spark.sources import load_table

    configure_runtime(spark)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    hof = chunk_documents(docs, chunk_size=50, stride=40)
    spark.udtf.register("__chunk_t", make_chunk_udtf(chunk_size=50, stride=40))
    docs.createOrReplaceTempView("__chunk_docs")
    ud = spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.chunk_text, c.n_tokens
        FROM __chunk_docs d, LATERAL __chunk_t(d.text) c
        """
    )
    a = sorted(tuple(r) for r in hof.collect())
    b = sorted(tuple(r) for r in ud.collect())
    assert a == b and len(a) > 0


def test_expectations_report_single_pass(spark):
    from wistia_video_analytics_project_spark.operators import quality

    df = spark.createDataFrame(
        [
            (1, "view", 10.0, "a@x.io"),
            (2, None, -5.0, "bad-email"),
            (None, "click", 250.0, None),
        ],
        "id long, kind string, score double, email string",
    )
    report = quality.expectations_report(
        df,
        [
            quality.expect_not_null("id", "kind"),
            quality.expect_values_in("kind", ["view", "click"]),
            quality.expect_between("score", 0.0, 100.0),
            quality.expect_matches("email", r"^[^@\s]+@[^@\s]+\.[^@\s]+$"),
        ],
    )
    got = {r.check: (r.violations, r.passed) for r in report.collect()}
    assert got == {
        "not_null(id,kind)": (2, False),
        "values_in(kind)": (0, True),
        "between(score)": (2, False),
        "matches(email)": (1, False),
    }
    assert all(r.total_count == 3 for r in report.collect())


def test_diff_tables_classifies_all_four(spark):
    from wistia_video_analytics_project_spark.operators import quality

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None), (4, "d", 4.0)],
        "k long, name string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 99.0), (3, "c", 3.0), (5, "e", 5.0)],
        "k long, name string, v double",
    )
    got = {
        r.k: r.change_type
        for r in quality.diff_tables(old, new, ["k"], ["name", "v"]).collect()
    }
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "changed",  # NULL -> 3.0 must count (null-safe compare)
        4: "removed",
        5: "added",
    }


def test_table_profile_exact(spark):
    from wistia_video_analytics_project_spark.operators import quality as q

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (3, "a")], "k long, s string"
    )
    prof = {r.column: r for r in q.table_profile(df, exact_distinct=True).collect()}
    assert prof["k"].n_rows == 4 and prof["k"].n_nulls == 0
    assert prof["k"].n_distinct == 3
    assert prof["k"].min_value == "1" and prof["k"].max_value == "3"
    assert prof["s"].n_nulls == 1 and prof["s"].n_distinct == 2
    assert prof["s"].min_value == "a" and prof["s"].max_value == "b"


def test_table_profile_approx_close(spark):
    from wistia_video_analytics_project_spark.operators import quality as q

    df = spark.range(5000).withColumnRenamed("id", "k")
    prof = {r.column: r for r in q.table_profile(df).collect()}
    # default HLL rsd is 0.05 (one sigma) — allow ~3 sigma
    assert abs(prof["k"].n_distinct - 5000) / 5000 < 0.15


def test_k_anonymity_report_hand_computed(spark):
    from wistia_video_analytics_project_spark.operators import quality

    rows = [
        # class (1, 'x'): 3 rows, 2 sensitive values
        (1, "x", "s1"), (1, "x", "s1"), (1, "x", "s2"),
        # class (2, 'y'): 1 row (the k_min=1 singleton), 1 sensitive
        (2, "y", "s1"),
        # class (3, 'z'): 6 rows, 3 sensitive values
        *[(3, "z", f"s{i % 3}") for i in range(6)],
    ]
    df = spark.createDataFrame(rows, "q1 int, q2 string, sens string")
    got = quality.k_anonymity_report(df, ["q1", "q2"], "sens", small_k=5).collect()[0]
    assert got["k_min"] == 1
    assert got["l_min"] == 1
    assert got["n_classes"] == 3
    assert got["n_rows"] == 10
    assert got["n_small_classes"] == 2   # sizes 3 and 1 are < 5
    assert got["pct_rows_at_risk"] == 0.4  # 4 of 10 rows
