"""End-to-end training-data preparation: the LLM-pipeline operators
composed into the standard corpus flow —

    quality filter -> exact dedup -> near-dup cluster dedup
      -> context-window chunking -> deterministic split

Each stage is one of the engine's tested operators; this module only
wires them, so the composition inherits their scale posture: the only
shuffles are the dedup groupBys/joins and the CC iterations — filtering,
chunking, and split assignment are map-only.  The registry runs the
other cleaning stages (PII scrub, boilerplate lines, contamination,
perplexity) as operators of their own.

Split hygiene: the train/validation/test bucket is derived from the
DOCUMENT id, not the chunk, so overlapping chunks of one document can
never straddle train and eval (the classic leakage bug when splitting
after chunking by row hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators import dedup, text

#: Knuth multiplicative-hash constant (same as the split query binding)
_SPLIT_PRIME = 2654435761


def prepare_training_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    jaccard_threshold: float = 0.1,
    shingle_n: int = 3,
    chunk_size: int = 50,
    stride: int = 40,
    train_pct: int = 80,
    validation_pct: int = 10,
) -> DataFrame:
    """Run the full prep flow; returns one row per chunk with
    (doc_id, chunk_id, chunk_text, n_tokens, split).

    Stages:
    1. quality gate — drop null/blank docs and those under
       ``min_tokens`` whitespace tokens (junk rows poison dedup).
    2. exact dedup — one canonical row per identical normalized text.
    3. near-dup dedup — Jaccard candidate pairs -> connected components
       -> keep each cluster's canonical member.
    4. chunking — overlapping ``chunk_size``-token windows every
       ``stride`` tokens.
    5. split — ``(doc_id * prime) mod 100`` buckets into
       train / validation / test, document-granular.
    """
    gated = docs.filter(
        F.col(text_col).isNotNull()
        & (F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= min_tokens)
    )

    exact = dedup.exact_dedup(gated, text_col=text_col, id_col=id_col)
    exact_kept = gated.join(
        exact.filter(F.col("is_canonical")).select(id_col), id_col, "left_semi"
    )

    pairs = dedup.ngram_jaccard_pairs(
        exact_kept, text_col=text_col, id_col=id_col,
        threshold=jaccard_threshold, n=shingle_n,
    )
    clusters = dedup.connected_components(pairs, "doc_id_a", "doc_id_b")
    kept = dedup.keep_canonical(exact_kept, clusters, id_col=id_col)

    chunks = text.chunk_documents(
        kept, text_col=text_col, id_col=id_col,
        chunk_size=chunk_size, stride=stride,
    )

    bucket = (F.col(id_col) * F.lit(_SPLIT_PRIME)) % 100
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + validation_pct, F.lit("validation"))
        .otherwise(F.lit("test"))
    )
    return chunks.withColumn("split", split)
