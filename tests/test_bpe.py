"""BPE trainer: exact agreement with a pure-Python reference
implementation (Sennrich-style, same tokenizer, same deterministic
tie-break), plus encoding invariants."""

from __future__ import annotations

import re
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from wistia_video_analytics_project_spark.operators import bpe
from wistia_video_analytics_project_spark.sources import load_table

from conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# reference implementation (independent of the Spark code path)
# ---------------------------------------------------------------------------

def _ref_word_freqs(texts):
    c = Counter()
    for t in texts:
        for w in re.split(r"\s+", t.strip().lower()):
            if w:
                c[w] += 1
    return c


def _ref_train(texts, num_merges):
    freqs = _ref_word_freqs(texts)
    vocab = {w: list(w) + [bpe.EOW] for w in freqs}
    merges = []
    for _ in range(num_merges):
        pairs = Counter()
        for w, f in freqs.items():
            s = vocab[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += f
        if not pairs:
            break
        # max count, ties broken lexicographically on (left, right)
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (a, b), n = best
        if n < 2:
            break
        merges.append((a, b, n))
        for w in vocab:
            s, out, i = vocab[w], [], 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def _smoke_texts():
    tbl = pq.read_table(f"{SF_SMOKE}/documents.parquet", columns=["text"])
    return tbl.column("text").to_pylist()


def test_train_bpe_matches_reference_exactly(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    got_merges, wt = bpe.train_bpe(docs, num_merges=25)
    ref_merges, ref_vocab = _ref_train(_smoke_texts(), 25)
    assert got_merges == ref_merges
    # trained symbol sequences agree for every vocab word
    got_vocab = {r.word: list(r.symbols) for r in wt.collect()}
    assert got_vocab == ref_vocab


def test_merges_frame_shape(spark):
    df = bpe.merges_frame(spark, [("a", "b", 5), ("ab", "c", 3)])
    assert [tuple(r) for r in df.collect()] == [
        (1, "a", "b", 5),
        (2, "ab", "c", 3),
    ]
