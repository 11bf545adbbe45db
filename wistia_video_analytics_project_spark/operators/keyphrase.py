"""RAKE keyword/keyphrase extraction (Rose et al. 2010).

Unsupervised corpus keyphrase mining: candidate phrases are maximal
runs of non-stopword tokens (stopwords and punctuation-only tokens act
as phrase delimiters), each word scores deg(w)/freq(w) — degree counts
co-occurrence inside candidate phrases, so words that appear inside
longer informative phrases outrank frequent isolated words — and a
phrase scores the sum of its member word scores.  Complements the
tf-idf `top_keywords` (single tokens) with multi-word phrases.

Engine parity: phrase segmentation is the classic gaps-and-islands
construction over token positions (pos − row_number over non-delimiter
tokens), all counts are exact integers, and the only float work is the
deg/freq division and a ≤4-term sum per phrase (1e-16 noise vs the
1e-4 rounding).  The stopword list is ONE Python constant rendered
into both the Spark filter and the DuckDB oracle, so the two sides
cannot drift.

Scale shape: one explode to (doc, pos, token) rows, two hash
aggregates (phrases, word stats) and one broadcast-sized join of
phrase members against the word-score table (vocabulary-bounded) —
no UDFs, no windows over raw corpus rows except the per-doc position
window (bounded by document length).

No counterpart in the reference repo; extends the text-analysis tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import persist
from .text import tokens

__all__ = ["STOPWORDS", "rake_keyphrases", "q_rake_keyphrases", "oracle_sql"]

#: rendered into BOTH the Spark filter and the DuckDB oracle
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "for",
    "with", "is", "are", "was", "were", "be", "as", "at", "by", "it",
    "this", "that", "from", "but", "not",
)


def rake_keyphrases(
    docs: DataFrame,
    top_k: int = 20,
    max_phrase_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``top_k`` RAKE phrases over the corpus: (phrase, n_words,
    n_occurrences, score).  Deterministic ordering: rounded score desc,
    phrase asc."""
    toks = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(tokens(text_col)).alias("pos0", "tok"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.regexp_replace(F.col("tok"), "[^a-z0-9]", "").alias("clean"),
        )
    )
    members = toks.filter(
        (F.col("clean") != "") & (~F.col("clean").isin(*STOPWORDS))
    )
    wr = Window.partitionBy("doc_id").orderBy("pos")
    islands = members.select(
        "doc_id",
        "pos",
        "clean",
        (F.col("pos") - F.row_number().over(wr)).alias("grp"),
    )
    phrase_rows = islands.groupBy("doc_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("clean")))
                ),
                lambda s: s["clean"],
            ),
            " ",
        ).alias("phrase"),
    ).filter(F.col("n_words") <= max_phrase_len)
    phrase_rows = persist(phrase_rows)
    member_rows = islands.join(
        phrase_rows.select("doc_id", "grp", "n_words"), ["doc_id", "grp"]
    )
    word_scores = member_rows.groupBy("clean").agg(
        (
            F.sum("n_words").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("wscore")
    )
    phrase_scores = (
        member_rows.join(F.broadcast(word_scores), "clean")
        .groupBy("doc_id", "grp")
        .agg(
            (F.round(F.sum("wscore"), 4) + F.lit(0.0)).alias("score"),
        )
        .join(phrase_rows, ["doc_id", "grp"])
    )
    return (
        phrase_scores.groupBy("phrase")
        .agg(
            F.max("n_words").alias("n_words"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.max("score").alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("phrase"))
        .limit(int(top_k))
    )


def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE top-20 corpus keyphrases (multi-word complement to the
    tf-idf `top_keywords`); fully oracle-checked — see the module
    docstring's parity argument."""
    from ..session import configure_runtime
    from ..sources import load_table

    configure_runtime(spark)
    docs = load_table(spark, sf_dir, "documents")
    return rake_keyphrases(docs, top_k=20)


def oracle_sql() -> dict[str, str]:
    stoplist = ", ".join(f"'{w}'" for w in STOPWORDS)
    return {
        "rake_keyphrases": rf"""
        WITH toks AS (
          SELECT doc_id, generate_subscripts(t, 1) AS pos,
                 regexp_replace(unnest(t), '[^a-z0-9]', '', 'g') AS clean
          FROM (SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\s+') AS t
                FROM documents WHERE text IS NOT NULL)),
        members AS (
          SELECT doc_id, pos, clean
          FROM toks
          WHERE clean <> '' AND clean NOT IN ({stoplist})),
        islands AS (
          SELECT doc_id, pos, clean,
                 pos - row_number() OVER (PARTITION BY doc_id
                                          ORDER BY pos) AS grp
          FROM members),
        phrase_rows AS (
          SELECT doc_id, grp,
                 CAST(count(*) AS BIGINT) AS n_words,
                 string_agg(clean, ' ' ORDER BY pos) AS phrase
          FROM islands GROUP BY 1, 2
          HAVING count(*) <= 4),
        member_rows AS (
          SELECT i.doc_id, i.grp, i.clean, p.n_words
          FROM islands i JOIN phrase_rows p USING (doc_id, grp)),
        word_scores AS (
          SELECT clean,
                 CAST(sum(n_words) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS wscore
          FROM member_rows GROUP BY 1),
        phrase_scores AS (
          SELECT m.doc_id, m.grp,
                 round(sum(w.wscore), 4) + CAST(0.0 AS DOUBLE) AS score
          FROM member_rows m JOIN word_scores w USING (clean)
          GROUP BY 1, 2)
        SELECT p.phrase,
               CAST(max(p.n_words) AS BIGINT) AS n_words,
               CAST(count(*) AS BIGINT) AS n_occurrences,
               max(s.score) AS score
        FROM phrase_scores s JOIN phrase_rows p USING (doc_id, grp)
        GROUP BY p.phrase
        ORDER BY score DESC, phrase ASC
        LIMIT 20
    """,
    }
