"""Explicit StructType schemas for every table the engine touches.

The reference relies on JSON schema inference everywhere
(`wistia-Databricks notebool-03.py:90-103` — ``spark.read.option
("multiline","true").json(...)``) and probes schema presence at runtime
(``if "events" in visitor_df.columns``, `notebool-03.py:215`). Inference
can type ``created`` as string one run and long the next, defeating both
predicate pushdown and oracle-stable hashing (SURVEY.md §1.3, §7.3) — so
our engine declares every schema. The one read without a declared
schema is ``sources.readers.read_parquet`` called without one, over
parquet the engine wrote itself: it takes the schema Spark wrote into a
file's footer.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Reference-native raw schemas (FIXTURES.md §A)
# ---------------------------------------------------------------------------

#: Raw media-stats record, one per video per ingestion run
#: (fields consumed at `notebool-03.py:133-144`).
RAW_MEDIA = T.StructType(
    [
        T.StructField("hashed_id", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("created", T.LongType(), True),  # unix epoch seconds
    ]
)

#: One engagement event inside a visitor record
#: (`notebool-03.py:218-233`: type/time/duration_watched/percent_watched).
EVENT_STRUCT = T.StructType(
    [
        T.StructField("type", T.StringType(), True),
        T.StructField("time", T.LongType(), True),  # unix epoch seconds
        T.StructField("duration_watched", T.DoubleType(), True),
        T.StructField("percent_watched", T.DoubleType(), True),
    ]
)

#: Raw visitor record with nested event array (`notebool-03.py:170-233`).
#: ``media_id`` is a real column here — the reference recovers it from the
#: file path with a regexp (`notebool-03.py:199-205`); our writer keeps it
#: as data (or as a parquet partition column), which is the scalable form.
RAW_VISITOR = T.StructType(
    [
        T.StructField("visitor_key", T.StringType(), True),
        T.StructField("ip_address", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("media_id", T.StringType(), True),
        T.StructField("events", T.ArrayType(EVENT_STRUCT), True),
    ]
)

# ---------------------------------------------------------------------------
# Silver star schema (FIXTURES.md §A3; `notebool-03.py:133-145, 170-175,
# 216-236`; SQL DDL PDF p.26)
# ---------------------------------------------------------------------------

DIM_MEDIA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("channel", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("processed_at", T.TimestampType(), True),
    ]
)

DIM_VISITOR = T.StructType(
    [
        T.StructField("visitor_id", T.StringType(), False),
        T.StructField("ip_address", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("processed_at", T.TimestampType(), True),
    ]
)

FACT_MEDIA_ENGAGEMENT = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("visitor_id", T.StringType(), False),
        T.StructField("date", T.DateType(), False),
        T.StructField("play_count", T.LongType(), True),
        T.StructField("play_rate", T.DoubleType(), True),
        T.StructField("total_watch_time_seconds", T.DoubleType(), True),
        T.StructField("avg_percent_watched", T.DoubleType(), True),
        T.StructField("loaded_at", T.TimestampType(), True),
    ]
)

#: Incremental-run watermark record (`notebool-02.py:190-213`).
WATERMARK = T.StructType(
    [
        T.StructField("timestamp", T.StringType(), False),  # ISO-8601
        T.StructField("status", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Driver testdata schemas (/root/testdata/sf*/; TESTDATA.md) — declared so
# reads never fall back to inference and pushdown stays typed.
# ---------------------------------------------------------------------------

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),  # JSON payload text
    ]
)

#: JSON schema of the ``events.props`` payload (explicit `from_json` path —
#: the reference only ever infers; SURVEY.md §2.8 "json" row).
EVENT_PROPS = T.StructType([T.StructField("k", T.LongType(), True)])

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)

#: Multimodal asset table (extensions tier): opaque binary payload plus
#: typed metadata — the scalable way to carry image/audio/video through
#: Spark (SURVEY.md §1.2 note; BASELINE.json north star).
MEDIA_ASSETS = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("codec", T.StringType(), True),
    ]
)

TPCH = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType(), True),
            T.StructField("r_name", T.StringType(), True),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType(), True),
            T.StructField("n_name", T.StringType(), True),
            T.StructField("n_regionkey", T.IntegerType(), True),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType(), True),
            T.StructField("c_name", T.StringType(), True),
            T.StructField("c_nationkey", T.IntegerType(), True),
            T.StructField("c_acctbal", T.DoubleType(), True),
            T.StructField("c_mktsegment", T.StringType(), True),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType(), True),
            T.StructField("s_name", T.StringType(), True),
            T.StructField("s_nationkey", T.IntegerType(), True),
            T.StructField("s_acctbal", T.DoubleType(), True),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType(), True),
            T.StructField("p_name", T.StringType(), True),
            T.StructField("p_brand", T.StringType(), True),
            T.StructField("p_type", T.StringType(), True),
            T.StructField("p_size", T.IntegerType(), True),
            T.StructField("p_retailprice", T.DoubleType(), True),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType(), True),
            T.StructField("o_custkey", T.LongType(), True),
            T.StructField("o_orderstatus", T.StringType(), True),
            T.StructField("o_totalprice", T.DoubleType(), True),
            T.StructField("o_orderdate", T.TimestampType(), True),
            T.StructField("o_orderpriority", T.StringType(), True),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType(), True),
            T.StructField("l_partkey", T.LongType(), True),
            T.StructField("l_suppkey", T.LongType(), True),
            T.StructField("l_linenumber", T.IntegerType(), True),
            T.StructField("l_quantity", T.DoubleType(), True),
            T.StructField("l_extendedprice", T.DoubleType(), True),
            T.StructField("l_discount", T.DoubleType(), True),
            T.StructField("l_tax", T.DoubleType(), True),
            T.StructField("l_returnflag", T.StringType(), True),
            T.StructField("l_linestatus", T.StringType(), True),
            T.StructField("l_shipdate", T.TimestampType(), True),
        ]
    ),
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}
