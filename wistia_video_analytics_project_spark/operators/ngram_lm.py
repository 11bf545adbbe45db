"""Kneser-Ney smoothed bigram language model training.

The third trainable LM component next to the add-k bigram scorer
(`text.lm_bits_per_token`) and the unigram-LM tokenizer (`unigram`):
interpolated Kneser-Ney (Kneser & Ney 1995; Chen & Goodman 1998) is
the standard n-gram smoothing behind KenLM-style corpus quality
scoring, and unlike add-k it models CONTEXT DIVERSITY — "francisco"
is frequent but follows almost only "san", so its continuation
probability is tiny.

    P_kn(w2|w1) = max(c(w1,w2) − D, 0)/c(w1·)
                  + D·N1+(w1·)/c(w1·) · Pcont(w2)
    Pcont(w2)   = N1+(·w2) / N1+(··)

with discount ``D`` fixed (0.75 — the Chen-Goodman default for count
≥1 without held-out tuning), ``N1+(w1·)`` the number of distinct
continuations of w1, ``N1+(·w2)`` the distinct contexts preceding w2,
``N1+(··)`` the number of distinct bigram types.

Scale shape (identical to the lm_bits posture): ONE pass explodes
per-doc bigrams (JVM higher-order functions, no UDF), then everything
is partial-agg groupBys over the bigram stream joined back by
vocabulary-sized count tables; the bigram-type total rides along as a
1-row broadcast.  Every model quantity is an exact integer count, so
the smoothed probabilities are elementwise double arithmetic both
engines evaluate identically — the trainer is fully ORACLE-CHECKABLE
(unlike EM/ALS, which are pytest-pinned instead).

No counterpart in the reference repo; extends the LLM-data-pipeline
tier (SURVEY.md "beyond the reference" brief).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import persist
from .text import tokens

__all__ = ["bigram_counts", "kneser_ney_bigram", "q_kneser_ney_bigram"]


def bigram_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(w1, w2, c12) corpus bigram counts — whitespace tokens, bigrams
    never cross document boundaries."""
    base = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__t"))
        .filter(F.size("__t") >= 2)
    )
    bg = base.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(__t) - 1), i -> "
                "struct(element_at(__t, i) AS w1, "
                "element_at(__t, i + 1) AS w2))"
            )
        ).alias("__b")
    ).select("__b.w1", "__b.w2")
    return bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )


def kneser_ney_bigram(
    docs: DataFrame,
    discount: float = 0.75,
    top_k: int | None = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train the interpolated-KN bigram model and emit the ``top_k``
    bigrams by raw count (w1/w2 lexicographic tiebreak) with their
    model quantities: c12, the context total c1, N1+(w1·), the
    continuation probability of w2, and P_kn(w2|w1)."""
    bc = persist(bigram_counts(docs, text_col, id_col))
    ctx = bc.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n_follow"),
    )
    cont = bc.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n_precede")
    )
    types = bc.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    d = F.lit(float(discount))
    joined = (
        bc.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
    )
    pcont = F.col("n_precede").cast("double") / F.col("n_types").cast(
        "double"
    )
    p_kn = (
        F.greatest(F.col("c12").cast("double") - d, F.lit(0.0))
        / F.col("c1").cast("double")
        + d
        * F.col("n_follow").cast("double")
        / F.col("c1").cast("double")
        * pcont
    )
    out = joined.select(
        "w1",
        "w2",
        "c12",
        "c1",
        "n_follow",
        (F.round(pcont, 6) + F.lit(0.0)).alias("p_cont"),
        (F.round(p_kn, 6) + F.lit(0.0)).alias("p_kn"),
    ).orderBy(F.desc("c12"), F.asc("w1"), F.asc("w2"))
    if top_k is None:
        return out
    return out.limit(int(top_k))


def q_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM over the documents corpus:
    top-30 bigrams with continuation and smoothed probabilities.
    Fully oracle-checked — every KN quantity is an exact integer count
    (see the module docstring)."""
    from ..session import configure_runtime
    from ..sources import load_table

    configure_runtime(spark)
    docs = load_table(spark, sf_dir, "documents")
    return kneser_ney_bigram(docs, discount=0.75, top_k=30)
