"""Conform operators: projections, renames, casts, key repair.

Re-expresses the reference's transform expressions (P1-P8 and the scalar
function surface, SURVEY.md §2.2/§2.8) as composable, named operators.
Everything here is built-in ``pyspark.sql.functions`` — JVM-side,
whole-stage-codegen'd, Catalyst-optimizable. No Python UDFs.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Predicates
# ---------------------------------------------------------------------------


def null_or_empty(col: Column | str) -> Column:
    """True where a string column is NULL or blank after trim.

    The reference's key-validity predicate (`wistia-Databricks
    notebool-03.py:151, 270-271`: ``isNull() | (trim(c) == "")``).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | (F.trim(c) == F.lit(""))


def all_keys_present(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Conjunctive not-null/not-empty filter over key columns (P4/P5,
    `notebool-03.py:239-243, 297-299`)."""
    cond = F.lit(True)
    for k in keys:
        cond = cond & ~null_or_empty(k)
    return df.filter(cond)


# ---------------------------------------------------------------------------
# Projections / renames
# ---------------------------------------------------------------------------


def select_rename(df: DataFrame, mapping: Mapping[str, Column | str]) -> DataFrame:
    """Project to exactly the given output columns.

    ``mapping`` is {output_name: source column or Column expression} — the
    engine form of the reference's ``select(col(x).alias(y), ...)`` blocks
    (`notebool-03.py:133-145`).
    """
    cols = [
        (F.col(src) if isinstance(src, str) else src).alias(out)
        for out, src in mapping.items()
    ]
    return df.select(*cols)


# ---------------------------------------------------------------------------
# Scalar transforms (§2.8)
# ---------------------------------------------------------------------------


def epoch_to_timestamp(col: Column | str, fallback: Column | None = None) -> Column:
    """Unix epoch seconds -> timestamp with an optional fallback for
    non-castable input (`notebool-03.py:141-143`: ``from_unixtime`` with
    current_timestamp fallback; ours lets the caller pass a deterministic
    fallback literal instead).

    Uses ``try_cast`` so junk input degrades to the fallback instead of
    failing under ANSI mode (Spark 4 default).
    """
    c = F.col(col) if isinstance(col, str) else col
    ts = F.from_unixtime(c.try_cast("bigint")).cast("timestamp")
    return F.coalesce(ts, fallback) if fallback is not None else ts


def classify_channel(name_col: Column | str) -> Column:
    """Channel classification when-chain (`notebool-03.py:135-140`):
    case-insensitive substring match on the title — facebook / youtube /
    instagram, else the default channel."""
    c = F.col(name_col) if isinstance(name_col, str) else name_col
    lowered = F.lower(F.coalesce(c, F.lit("")))
    return (
        F.when(lowered.contains("facebook"), F.lit("Facebook"))
        .when(lowered.contains("youtube"), F.lit("YouTube"))
        .when(lowered.contains("instagram"), F.lit("Instagram"))
        .otherwise(F.lit("Wistia"))
    )


def media_url(media_id_col: Column | str) -> Column:
    """Media URL derivation (`notebool-03.py:136`:
    ``concat(lit("https://fast.wistia.net/embed/iframe/"), hashed_id)``)."""
    c = F.col(media_id_col) if isinstance(media_id_col, str) else media_id_col
    return F.concat(F.lit("https://fast.wistia.net/embed/iframe/"), c)


def surrogate_key(prefix: str, *cols: Column | str) -> Column:
    """Deterministic surrogate key: ``<prefix>_sha256(content)``.

    Replaces the reference's ``concat(lit(prefix), monotonically_
    increasing_id())`` PK repair (`notebool-03.py:149-154`) —
    ``monotonically_increasing_id`` is partition-layout dependent and not
    stable across runs (SURVEY.md §7.3); a content hash is reproducible on
    any cluster size.
    """
    parts = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.concat(
        F.lit(prefix + "_"),
        F.sha2(F.concat_ws("\x1f", *[F.coalesce(p.cast("string"), F.lit("")) for p in parts]), 256),
    )


def repair_key(df: DataFrame, key: str, prefix: str, content_cols: Sequence[str]) -> DataFrame:
    """Q2 PK repair: null/blank key -> deterministic surrogate
    (`notebool-03.py:149-154, 178-183, 208-213`)."""
    return df.withColumn(
        key,
        F.when(null_or_empty(key), surrogate_key(prefix, *content_cols)).otherwise(F.col(key)),
    )


def parse_json_column(df: DataFrame, col: str, schema, out: str | None = None) -> DataFrame:
    """Explicit ``from_json`` over a string payload column.

    The reference only ever reads JSON by whole-file inference
    (`notebool-03.py:90-103`); the engine adds the typed path for
    string-embedded payloads (SURVEY.md §2.8 json row).
    """
    return df.withColumn(out or col, F.from_json(F.col(col), schema))
