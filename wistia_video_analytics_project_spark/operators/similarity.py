"""Similarity search over embedding columns (array<float>).

Extensions beyond the reference surface (BASELINE.json north star). Two
tiers:

- **Brute-force cosine top-k** — the baseline and the correctness oracle:
  broadcast the (small) query set against the corpus, compute cosine with
  array built-ins (``zip_with`` + ``aggregate`` — JVM-side, codegen'd,
  no Python), rank per query. Cost O(|queries| x |corpus|): right when
  the query set is small, regardless of corpus size.
- **SRP-LSH (random hyperplane) bucketed ANN** — the scale path: sign
  bits of dot products with deterministic pseudo-random hyperplanes give
  an n-bit signature; candidates = corpus rows sharing a signature band
  with the query. Signatures are computed by a vectorized Pandas UDF
  (numpy matmul over Arrow batches), buckets join with a plain equi-join.
  At 100 TB: signature computation is embarrassingly parallel, and the
  per-query candidate set is a tiny fraction of the corpus.

All float math is done in double precision (floats are exactly
representable in double) so results are engine-comparable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import persist
from ..session import configure_runtime
from ..sources import load_table

# ---------------------------------------------------------------------------
# Cosine building blocks (array built-ins, double precision)
# ---------------------------------------------------------------------------


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(_to_double(a), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# ---------------------------------------------------------------------------
# Brute-force top-k (baseline + oracle)
# ---------------------------------------------------------------------------


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = None,
) -> DataFrame:
    """Top-k corpus neighbors per query vector by cosine similarity.

    Broadcast the query side (small), cross-join against the corpus,
    rank with a per-query window. Similarity is rounded to 6 decimals
    BEFORE ranking, with the neighbor id as tiebreaker, so the result set
    is deterministic and engine-comparable.

    ``label_col`` switches to hard-negative semantics: only corpus
    vectors whose label DIFFERS from the query's are candidates (the
    join predicate becomes the label mismatch, which also excludes
    self-pairs), and the output carries ``query_label`` /
    ``neighbor_label`` columns.
    """
    q_cols = [F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")]
    c_cols = [F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")]
    if label_col is not None:
        q_cols.insert(1, F.col(label_col).alias("__ql"))
        c_cols.insert(1, F.col(label_col).alias("__cl"))
    q = queries.select(*q_cols)
    c = corpus.select(*c_cols)
    from pyspark.sql import Window

    if label_col is None:
        cond = F.col("query_id") != F.col("neighbor_id")
        out_cols = ["query_id", "neighbor_id"]
    else:
        cond = F.col("__ql") != F.col("__cl")
        out_cols = [
            "query_id",
            F.col("__ql").alias("query_label"),
            "neighbor_id",
            F.col("__cl").alias("neighbor_label"),
        ]
    scored = c.join(F.broadcast(q), cond).select(
        *out_cols,
        F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )



def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    pool: int = 25,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998) — the diversity-aware selection used when a
    training-data pipeline wants representative, non-redundant
    neighbors rather than ``k`` near-duplicates of the best match.

    Two stages, each at its right boundary:

    1. candidate POOL per query via :func:`brute_force_topk` (swap in
       the IVF path at scale — any ``(query_id, neighbor_id,
       cosine_sim)`` producer works): bounds stage 2 at ``pool`` rows
       per query.
    2. per-query greedy MMR over the pooled candidates in
       ``applyInPandas`` — iteratively pick
       ``argmax lam·rel(d) − (1−lam)·max_sim(d, selected)``.  The loop
       is O(k·pool²) numpy per QUERY, distributed across queries; no
       cross-query state, so the only shuffle is the groupBy on
       query_id that the pool ranking already produced.

    Scores round to 6 decimals with ``neighbor_id`` tie-break at every
    argmax, so selection is deterministic and layout-independent.
    ``lam=1.0`` degenerates to the plain relevance top-k (pytested).
    Rows-only registry contract: the greedy recursion isn't
    SQL-expressible (invariants + reference parity in
    tests/test_similarity.py).
    """
    import numpy as np
    import pandas as pd

    cand = brute_force_topk(
        queries, corpus, k=pool, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id", "cosine_sim")
    with_vecs = cand.join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
        ),
        "neighbor_id",
    )
    out_schema = (
        "query_id long, neighbor_id long, mmr_rank int, "
        "relevance double, mmr_score double"
    )
    kk, ll = int(k), float(lam)

    def per_query(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["cosine_sim", "neighbor_id"], ascending=[False, True]
        ).reset_index(drop=True)
        vecs = np.array(
            [np.asarray(v, dtype=np.float64) for v in pdf["__cv"]]
        )
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0] = 1.0
        unit = vecs / norms[:, None]
        pair = np.round(unit @ unit.T, 6)  # candidate-candidate cosine
        rel = pdf["cosine_sim"].to_numpy(dtype=np.float64)
        ids = pdf["neighbor_id"].to_numpy()
        n = len(pdf)
        selected: list[int] = []
        scores: list[float] = []
        remaining = list(range(n))
        while remaining and len(selected) < kk:
            if selected:
                red = pair[np.ix_(remaining, selected)].max(axis=1)
            else:
                red = np.zeros(len(remaining))
            mmr = np.round(ll * rel[remaining] - (1.0 - ll) * red, 6)
            # argmax with neighbor_id tie-break: sort keys (-score, id)
            order = sorted(
                range(len(remaining)),
                key=lambda i: (-mmr[i], ids[remaining[i]]),
            )
            pick = remaining[order[0]]
            scores.append(float(mmr[order[0]]))
            selected.append(pick)
            remaining.remove(pick)
        return pd.DataFrame(
            {
                "query_id": np.full(len(selected), pdf["query_id"].iloc[0]),
                "neighbor_id": ids[selected],
                "mmr_rank": np.arange(1, len(selected) + 1),
                "relevance": rel[selected],
                "mmr_score": scores,
            }
        )

    return with_vecs.groupBy("query_id").applyInPandas(
        per_query, schema=out_schema
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the top-``k`` most-similar corpus vectors whose LABEL differs —
    the near-boundary negatives a metric-learning / embedding-training
    pipeline feeds its loss.  Thin wrapper over
    :func:`brute_force_topk` (the exact baseline) with its
    ``label_col`` mismatch predicate; at corpus scale swap the
    candidate generator for the IVF/SRP paths and keep the
    label-mismatch filter, which runs BEFORE ranking either way."""
    return brute_force_topk(
        queries,
        corpus,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        label_col=label_col,
    )


def cosine_pairs(
    vecs: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute force, id_a < id_b).
    Verification/baseline path — use :func:`srp_candidates` + verify for
    corpus-scale near-dup mining."""
    a = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("__va"), F.col("__vb")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# SRP-LSH (random hyperplane) signatures — the ANN scale path
# ---------------------------------------------------------------------------

N_PLANES = 16  # signature bits
#: 4 bands x 4 bits. Band width tunes the selectivity/recall tradeoff:
#: p(band collision) = p_bit^4 with p_bit = 1 - theta/pi. For weakly
#: similar corpora (top neighbors at cosine ~0.3-0.5) 4-bit bands prune
#: ~3/4 of the corpus while keeping most true neighbors; widen bands for
#: strongly-clustered data.
N_SRP_BANDS = 4


def _srp_planes(dim: int, n_planes: int = N_PLANES, seed: str = "srp-v1") -> list[list[float]]:
    """Deterministic ±1 hyperplanes derived from sha256 — reproducible on
    any cluster, no RNG state to ship."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.sha256(f"{seed}:{p}:{d}".encode()).digest()
            row.append(1.0 if h[0] % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def srp_signatures(
    vecs: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sig int) — n-bit sign signature via vectorized Pandas UDF.

    numpy matmul over Arrow batches: one (batch x dim) @ (dim x planes)
    product per batch instead of per-row loops.
    """
    import numpy as np
    import pandas as pd

    planes = np.array(_srp_planes(dim), dtype=np.float64).T  # dim x planes
    weights = (1 << np.arange(N_PLANES)).astype(np.int64)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.vstack(pdf[vec_col].map(np.asarray).values).astype(np.float64)
            bits = (mat @ planes) > 0
            sig = (bits * weights).sum(axis=1)
            yield pd.DataFrame({"id": pdf[id_col], "sig": sig})

    out = vecs.select(id_col, vec_col).mapInPandas(compute, schema="id long, sig long")
    return out.withColumnRenamed("id", id_col)


def srp_bands(sigs: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Explode signatures into (band_id, band_val) rows for bucket joins."""
    bits_per_band = N_PLANES // N_SRP_BANDS
    mask = (1 << bits_per_band) - 1
    bands = [
        F.struct(
            F.lit(i).alias("band_id"),
            F.shiftright(F.col("sig"), i * bits_per_band)
            .bitwiseAND(F.lit(mask))
            .alias("band_val"),
        )
        for i in range(N_SRP_BANDS)
    ]
    return sigs.select(
        id_col, "sig", F.explode(F.array(*bands)).alias("b")
    ).select(id_col, "sig", "b.band_id", "b.band_val")


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: SRP band match -> exact cosine re-rank.

    Same output schema as :func:`brute_force_topk`; recall measured in
    tests/test_similarity.py. Corpus signatures + bands are computed once
    (in a real deployment: persisted and bucketed by band_val).
    """
    from pyspark.sql import Window

    all_vecs = queries.select(id_col, vec_col).unionByName(
        corpus.select(id_col, vec_col)
    ).distinct()
    # bands feed both join sides: cache to avoid recomputing the
    # signature UDF lineage twice
    sigs = srp_signatures(all_vecs, dim, id_col, vec_col)
    bands = persist(srp_bands(sigs, id_col))

    q_bands = bands.join(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")),
        bands[id_col] == F.col("query_id"),
    ).select("query_id", "__qv", "band_id", "band_val")
    c_bands = bands.join(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")),
        bands[id_col] == F.col("neighbor_id"),
    ).select("neighbor_id", "__cv", "band_id", "band_val")

    cand = (
        q_bands.join(
            c_bands,
            ["band_id", "band_val"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "__qv", "neighbor_id", "__cv")
        .distinct()
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rnk")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse quantizer + nprobe
# ---------------------------------------------------------------------------


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse quantizer: the ``n_centroids`` corpus vectors
    with the smallest ``xxhash64(id)`` (a seedless reproducible sample).
    Returned driver-side (tiny: k x dim floats) for broadcasting into
    the assignment UDF. A production build would Lloyd-iterate these;
    sampled centroids already give the IVF cost shape.
    """
    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(n_centroids)
        .collect()
    )
    return [(i, [float(x) for x in r[1]]) for i, r in enumerate(rows)]


def ivf_centroids_refined(
    corpus: DataFrame,
    n_centroids: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Lloyd-refined coarse quantizer: start from the deterministic
    sample, then k-means-iterate with DataFrame ops only —

    assign (vectorized matmul UDF) -> elementwise mean per cell
    (posexplode + groupBy (cell, pos) + rebuild via sorted collect_list).

    Each iteration is two shuffles over (cell, pos) rows; the centroid
    table stays driver-sized (k x dim). Deterministic given the
    deterministic seed centroids and argmin tie-breaking.
    """
    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    for _ in range(iterations):
        assigned = ivf_assign(corpus, cents, nprobe=1, id_col=id_col, vec_col=vec_col)
        joined = corpus.select(id_col, vec_col).join(assigned, id_col)
        means = (
            joined.select("cell", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select("cell", F.transform("pm", lambda s: s.m).alias("centroid"))
        )
        new = {
            int(r.cell): [float(x) for x in r.centroid] for r in means.collect()
        }
        # empty cells keep their previous centroid
        cents = [(cid, new.get(cid, vec)) for cid, vec in cents]
    return cents


def ivf_assign(
    vecs: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: "list[str] | None" = None,
) -> DataFrame:
    """(id, cell) rows: each vector's ``nprobe`` nearest centroid cells
    by cosine. Vectorized numpy: one (batch x dim) @ (dim x k) matmul per
    Arrow batch. ``nprobe=1`` builds the index; ``nprobe>1`` probes.

    ``carry`` names extra input columns to pass through unchanged
    (repeated per probed cell) — callers that need a payload next to
    the cell id then skip the id-keyed join-back they previously paid
    (r14: the ALS ANN serving path re-joined both factor frames onto
    the assignments; guide §2.4 — that join is removable by carrying
    the column through the opaque map)."""
    import numpy as np
    import pandas as pd

    # the output id column inherits the INPUT id type: a hard-coded
    # "id long" broke string/decimal ids the moment the ALS auto-router
    # switched a catalog onto the ANN path
    id_type = vecs.schema[id_col].dataType.simpleString()
    carry = list(carry or [])
    carry_schema = "".join(
        f", {c} {vecs.schema[c].dataType.simpleString()}" for c in carry
    )
    schema = f"id {id_type}, cell long{carry_schema}"
    if not centroids:  # an empty corpus trains no cell to assign
        return vecs.sparkSession.createDataFrame([], schema).withColumnRenamed("id", id_col)
    cmat = np.array([c for _, c in centroids], dtype=np.float64)  # k x dim
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0] = 1.0
    cells = np.array([cid for cid, _ in centroids], dtype=np.int64)
    k = min(nprobe, len(centroids))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.vstack(pdf[vec_col].map(np.asarray).values).astype(np.float64)
            vnorm = np.linalg.norm(mat, axis=1)
            vnorm[vnorm == 0] = 1.0
            sims = (mat @ cmat.T) / vnorm[:, None] / cnorm[None, :]
            # top-k cells per row, deterministic tie-break on cell id
            order = np.lexsort((cells[None, :].repeat(len(mat), 0), -sims), axis=1)
            top = order[:, :k]
            out = {"id": np.repeat(pdf[id_col].values, k),
                   "cell": cells[top].ravel()}
            for c in carry:
                out[c] = np.repeat(pdf[c].values, k)
            yield pd.DataFrame(out)

    out = vecs.select(id_col, vec_col, *carry).mapInPandas(assign, schema=schema)
    return out.withColumnRenamed("id", id_col)


def ann_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iterations: int = 0,
) -> DataFrame:
    """IVF-flat ANN: corpus partitioned into centroid cells once; each
    query scans only its ``nprobe`` nearest cells, then exact cosine
    re-rank. Same output schema as :func:`brute_force_topk`.

    Cost: |corpus| x k centroid dots (index build, one pass) +
    |queries| x (nprobe/k_cells) x |corpus| exact dots — an nprobe/k_cells
    fraction of brute force. With ``nprobe == n_centroids`` the result
    equals brute force exactly (asserted in tests), so recall degrades
    continuously and measurably as nprobe shrinks.
    """
    from pyspark.sql import Window

    if refine_iterations > 0:
        cents = ivf_centroids_refined(
            corpus, n_centroids, refine_iterations, id_col, vec_col
        )
    else:
        cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    corpus_cells = ivf_assign(corpus, cents, nprobe=1, id_col=id_col, vec_col=vec_col)
    query_cells = ivf_assign(queries, cents, nprobe=nprobe, id_col=id_col, vec_col=vec_col)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    ).join(
        corpus_cells.select(F.col(id_col).alias("neighbor_id"), "cell"), "neighbor_id"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).join(
        query_cells.select(F.col(id_col).alias("query_id"), "cell"), "query_id"
    )
    cand = (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "__qv", "neighbor_id", "__cv")
        .distinct()
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rnk")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    sample_size: int = 1024,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train PQ codebooks: split each (L2-normalized) vector into ``m``
    subvectors and k-means each subspace to ``n_codes`` centroids.

    Training runs driver-side on a bounded deterministic sample (the
    ``sample_size`` vectors with smallest ``xxhash64(id)`` — same
    seedless-sample trick as the IVF coarse quantizer): codebooks are
    tiny (m x n_codes x dim/m floats) and k-means over a sample is the
    standard, published PQ recipe — the full corpus is never collected.
    Deterministic: hash-ordered init, fixed iteration count, argmin
    ties broken by lowest code id. An empty corpus trains no codebooks.
    """
    import numpy as np

    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample_size)
        .collect()
    )
    if not rows:
        return []
    mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(mat, axis=1)
    nrm[nrm == 0] = 1.0
    mat = mat / nrm[:, None]
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = []
    for j in range(m):
        x = mat[:, j * sub : (j + 1) * sub]
        cents = x[: min(n_codes, len(x))].copy()
        for _ in range(iterations):
            d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            code = d.argmin(axis=1)
            for c in range(len(cents)):
                members = x[code == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append([[float(v) for v in c] for c in cents])
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>[m]): each vector L2-normalized, split into
    subvectors, each replaced by its nearest codebook centroid id.

    THE scale lever: a 64-float vector (256 B) becomes m=8 single-byte
    codes — 32x less memory/IO, which is what lets a 100 TB embedding
    corpus live in executor memory for repeated ANN scans. Vectorized
    numpy over Arrow batches.
    """
    import numpy as np
    import pandas as pd

    books = [np.array(b, dtype=np.float64) for b in codebooks]
    sub = books[0].shape[1]

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.vstack(pdf[vec_col].map(np.asarray).values).astype(np.float64)
            nrm = np.linalg.norm(mat, axis=1)
            nrm[nrm == 0] = 1.0
            mat = mat / nrm[:, None]
            codes = np.empty((len(mat), len(books)), dtype=np.int64)
            for j, cents in enumerate(books):
                x = mat[:, j * sub : (j + 1) * sub]
                d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame({"id": pdf[id_col], "codes": list(codes)})

    out = corpus.select(id_col, vec_col).mapInPandas(
        encode, schema="id long, codes array<long>"
    )
    return out.withColumnRenamed("id", id_col)


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, a tiny
    m x n_codes lookup table of subvector-centroid dot products; each
    corpus vector's score is m table lookups — no float vectors are read
    at query time, only the byte codes.

    With pre-encode normalization, summed sub-dots approximate
    cosine(query, vector); recall vs exact brute force is measured in
    tests/test_similarity.py. Same output schema as the other ANN ops.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    books = [np.array(b, dtype=np.float64) for b in codebooks]
    sub = books[0].shape[1]
    q_rows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qmat = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(qmat, axis=1)
    qn[qn == 0] = 1.0
    qmat = qmat / qn[:, None]
    # luts[q, j, c] = dot(q_sub_j, centroid_{j,c})
    luts = np.stack(
        [qmat[:, j * sub : (j + 1) * sub] @ cents.T for j, cents in enumerate(books)],
        axis=1,
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cm = np.vstack(pdf["codes"].map(np.asarray).values)  # batch x m
            nids = pdf[id_col].values
            # sims[q, row] = sum_j luts[q, j, cm[row, j]]
            sims = np.zeros((len(qids), len(cm)))
            for j in range(cm.shape[1]):
                sims += luts[:, j, cm[:, j]]
            out_q, out_n, out_s = [], [], []
            kk = min(k + 1, sims.shape[1])
            for qi in range(len(qids)):
                # lexsort, not argpartition: at exact score ties the
                # shortlist must not depend on partition layout
                idx = np.lexsort((nids, -sims[qi]))[:kk]
                out_q.extend([qids[qi]] * len(idx))
                out_n.extend(nids[idx])
                out_s.extend(np.round(sims[qi][idx], 6))
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "approx_cosine": out_s}
            )

    partial = codes.mapInPandas(
        score, schema="query_id long, neighbor_id long, approx_cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cosine"), F.asc("neighbor_id")
    )
    return (
        partial.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "approx_cosine", "rnk")
    )


def ann_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 32,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """End-to-end PQ ANN: train (bounded sample) -> encode (one corpus
    pass) -> ADC shortlist -> exact re-rank of the shortlist only.

    The two-stage shape is the published IVFADC+re-rank recipe: the
    compressed-domain scan touches ONLY byte codes (32x smaller than the
    float corpus), and exact cosine reads just ``shortlist`` true
    vectors per query (default 10k). The shortlist size is the
    recall/IO dial — measured in tests: ~0.2 recall@5 pure-ADC on this
    near-random corpus vs 0.84+ with a 50-vector re-rank.

    In a deployment the codes frame is persisted and re-queried; here it
    flows straight through.
    """
    from pyspark.sql import Window

    L = shortlist if shortlist is not None else 10 * k
    books = pq_train(corpus, m, n_codes, id_col=id_col, vec_col=vec_col)
    if not books:
        return _exact_rerank(_no_pairs(corpus, id_col), queries, corpus, k, id_col, vec_col)
    codes = pq_encode(corpus, books, id_col, vec_col)
    short = pq_topk(queries, codes, books, k=L, id_col=id_col, vec_col=vec_col)
    return _exact_rerank(short, queries, corpus, k, id_col, vec_col)


def _no_pairs(corpus: DataFrame, id_col: str) -> DataFrame:
    """The (query_id, neighbor_id) shortlist of an empty corpus: none."""
    return corpus.select(F.col(id_col).alias("query_id"), F.col(id_col).alias("neighbor_id"))


def _exact_rerank(
    shortlist_pairs: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine re-rank of (query_id, neighbor_id) candidate pairs:
    reads only the shortlisted true vectors, broadcasts the query side."""
    from pyspark.sql import Window

    rerank = (
        shortlist_pairs.select("query_id", "neighbor_id")
        .join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        rerank.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rnk")
    )


def ann_ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 32,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iterations: int = 0,
) -> DataFrame:
    """IVFADC — the published billion-scale recipe, composed from this
    module's IVF and PQ pieces: the coarse quantizer prunes the corpus
    to ``nprobe``/``n_centroids`` cells per query, ADC scores ONLY the
    surviving byte codes (no float vectors read), and exact cosine
    re-ranks a per-query shortlist.

    At 100 TB: cell assignment + encoding are one-pass and persistable
    (cell-partitioned code table); per query the scan cost is
    (nprobe / n_centroids) x |corpus| LUT lookups over 8-byte codes —
    both pruning dials (nprobe, shortlist) degrade recall continuously
    and measurably (tests).  ``refine_iterations`` Lloyd-refines the
    coarse quantizer (the quality operating point measured in
    APPROX_REPORT.json uses 2).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    L = shortlist if shortlist is not None else 10 * k
    if refine_iterations > 0:
        cents = ivf_centroids_refined(
            corpus, n_centroids, refine_iterations, id_col, vec_col
        )
    else:
        cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    books = pq_train(corpus, m, n_codes, id_col=id_col, vec_col=vec_col)
    if not books:
        return _exact_rerank(_no_pairs(corpus, id_col), queries, corpus, k, id_col, vec_col)
    codes = pq_encode(corpus, books, id_col, vec_col)
    corpus_cells = ivf_assign(corpus, cents, nprobe=1, id_col=id_col, vec_col=vec_col)
    coded = codes.join(corpus_cells, id_col).select(
        F.col(id_col).alias("neighbor_id"), "codes", "cell"
    )
    q_cells = ivf_assign(
        queries, cents, nprobe=nprobe, id_col=id_col, vec_col=vec_col
    ).select(F.col(id_col).alias("query_id"), "cell")
    cand = q_cells.join(coded, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", "codes").distinct()

    sub = len(books[0][0])
    q_rows = queries.select(id_col, vec_col).collect()
    luts = {}
    for r in q_rows:
        qv = np.asarray(list(r[1]), dtype=np.float64)
        n = np.linalg.norm(qv)
        qv = qv / (n if n else 1.0)
        luts[int(r[0])] = np.stack(
            [
                qv[j * sub : (j + 1) * sub] @ np.array(b, dtype=np.float64).T
                for j, b in enumerate(books)
            ]
        )

    n_sub = len(books)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            sims = np.empty(len(pdf))
            cm = np.vstack(pdf["codes"].map(np.asarray).values)
            pos = np.arange(n_sub)
            # vectorized per query group: one fancy-index gather + sum
            for q, idx in pdf.groupby("query_id").indices.items():
                sims[idx] = luts[int(q)][pos[None, :], cm[idx]].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "approx_cosine": np.round(sims, 6),
                }
            )

    scored = cand.mapInPandas(
        score, schema="query_id long, neighbor_id long, approx_cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cosine"), F.asc("neighbor_id")
    )
    short = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= L)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(short, queries, corpus, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate DEDUP (SemDeDup-style keep rule)
# ---------------------------------------------------------------------------


def near_dup_drop_ids(
    vecs: DataFrame,
    threshold: float,
    strategy: str = "exact",
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Ids to DROP under the dominated-by-earlier rule: drop ``v`` iff
    some ``u < v`` has ``cosine(u, v) >= threshold``.

    One-pass and SQL-expressible (unlike sequential greedy dedup, which
    re-reads its own keep decisions and is inherently iterative); the
    kept set is therefore an invariant the oracle can check: no kept id
    has ANY earlier id within ``threshold``.

    - ``strategy='exact'``: all-pairs cosine — the verification path,
      quadratic by design.
    - ``strategy='lsh'``: SRP band buckets generate the candidate pairs
      (linear in corpus size; a near-dup pair at cosine >= 0.4 collides
      in >= 1 of the 4-bit bands with high probability), then the exact
      cosine filter keeps true near-dups. Misses only pairs with no band
      collision — recall vs the exact path is asserted in
      tests/test_similarity.py.
    """
    if strategy == "exact":
        pairs = cosine_pairs(vecs, threshold, id_col, vec_col)
    elif strategy == "lsh":
        if dim is None:
            raise ValueError("strategy='lsh' requires dim")
        bands = srp_bands(srp_signatures(vecs, dim, id_col, vec_col), id_col)
        cand = (
            bands.select(F.col(id_col).alias("id_a"), "band_id", "band_val")
            .join(
                bands.select(F.col(id_col).alias("id_b"), "band_id", "band_val"),
                ["band_id", "band_val"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        a = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
        b = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
        pairs = (
            cand.join(a, "id_a")
            .join(b, "id_b")
            .select(
                "id_a",
                "id_b",
                F.round(cosine(F.col("__va"), F.col("__vb")), 6).alias("cosine_sim"),
            )
            .filter(F.col("cosine_sim") >= threshold)
        )
    else:
        raise ValueError(f"unknown strategy {strategy!r} (exact|lsh)")
    return pairs.select(F.col("id_b").alias(id_col)).distinct()


def semantic_dedup_keep(
    vecs: DataFrame,
    threshold: float,
    strategy: str = "exact",
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Rows surviving embedding-cosine near-dup dedup (all original
    columns). Anti-join against :func:`near_dup_drop_ids` — the corpus
    never collects, the drop set is one ``distinct`` of near-dup ids.

    100 TB shape: with ``strategy='lsh'`` every stage is linear — one
    mapInPandas signature pass, one band equi-join bounded by bucket
    sizes, one anti-join on the id. The exact strategy is the recall
    oracle, quarantined to bounded slices like the other exact paths.
    """
    drops = near_dup_drop_ids(vecs, threshold, strategy, dim, id_col, vec_col)
    return vecs.join(drops, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Driver-contract bindings (embeddings table: vec_id, embedding float[64])
# ---------------------------------------------------------------------------

EMB_DIM = 64


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_runtime(spark)
    return load_table(spark, sf_dir, "embeddings")


def q_ann_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk(queries_df, emb, k=5)


def q_ann_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-5 for the first 10 query vectors (pool=25,
    lambda=0.7). Rows-only: greedy per-query recursion (invariants +
    lam=1 degeneracy pytested in tests/test_similarity.py)."""
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10)
    return mmr_rerank(queries_df, emb, k=5, pool=25, lam=0.7).orderBy(
        "query_id", "mmr_rank"
    )


def q_hard_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives: for the first 10 vectors, the top-3
    most-similar vectors of a DIFFERENT label (exact path — the
    oracle-checkable baseline; the IVF/SRP candidate generators are the
    corpus-scale swap)."""
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10)
    return hard_negatives(queries_df, emb, k=3)


def truncated_dim_recall(
    emb: DataFrame,
    dims: Sequence[int] = (8, 16, EMB_DIM),
    n_queries: int = 20,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style truncation ablation: recall@k of cosine top-k
    computed on only the first ``d`` embedding dimensions vs the
    full-dimension truth, for each ``d`` in ``dims`` (the last entry
    should be the full dim, whose recall is 1.0 by construction — a
    built-in sanity row).  This is the measurement that justifies
    shipping truncated vectors at serving time (a 4x smaller index for
    a known recall cost).

    All truncation levels' cosines come from whole-vector ``zip_with``
    folds on ONE bounded broadcast join (the ≤``n_queries``-row query
    side vs the corpus) — r13: the previous shape exploded every vector
    into 64 element rows and self-joined on position, shuffling
    64x the pair rows into a wide conditional aggregate, and then
    re-derived that subtree for every ranking pass; norms are now pure
    row-local folds (no aggregation at all), and the bounded
    (n_queries x corpus) sims frame is cached once for the ranking
    passes.  Ranking uses the rounded-6 cosine with neighbor-id
    tiebreak exactly like :func:`brute_force_topk`, so the result is
    engine-exact and oracle-checkable.  Scale: the pair stage is
    bounded by ``n_queries x corpus``, the same shape as the exact ANN
    baseline — the corpus-scale swap is running the same ablation over
    an IVF shortlist."""
    from pyspark.sql import Window

    from .. import cache as _cache

    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def _nrm(v, d: int):
        return F.sqrt(
            F.aggregate(
                F.slice(v, 1, d),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            )
        )

    base = emb.select(F.col(id_col).alias("vid"), vec.alias("__v"))
    corpus = base.select(
        F.col("vid").alias("neighbor_id"),
        F.col("__v").alias("__nv"),
        *[_nrm(F.col("__v"), d).alias(f"nb{d}") for d in dims],
    )
    queries_side = base.filter(F.col("vid") < n_queries).select(
        F.col("vid").alias("query_id"),
        F.col("__v").alias("__qv"),
        *[_nrm(F.col("__v"), d).alias(f"na{d}") for d in dims],
    )

    def _dp(d: int):
        return F.aggregate(
            F.zip_with(
                F.slice(F.col("__qv"), 1, d),
                F.slice(F.col("__nv"), 1, d),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    sims = _cache.persist(
        corpus.join(
            F.broadcast(queries_side),
            F.col("query_id") != F.col("neighbor_id"),
        )
        .select(
            "query_id",
            "neighbor_id",
            *[
                F.round(
                    _dp(d) / (F.col(f"na{d}") * F.col(f"nb{d}")), 6
                ).alias(f"cos{d}")
                for d in dims
            ],
        )
    )
    full = dims[-1]

    def topk(d: int) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("neighbor_id").asc()
        )
        return (
            sims.select(
                "query_id",
                "neighbor_id",
                F.col(f"cos{d}").alias("cos"),
            )
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("query_id", "neighbor_id")
        )

    truth = topk(full)
    out = None
    for d in dims:
        overlap = (
            topk(d)
            .join(truth, ["query_id", "neighbor_id"])
            .agg(F.count(F.lit(1)).cast("long").alias("sum_overlap"))
            .select(
                F.lit(d).cast("int").alias("trunc_dim"),
                "sum_overlap",
                F.round(
                    F.col("sum_overlap").cast("double")
                    / F.lit(n_queries * k).cast("double"),
                    4,
                ).alias("recall_at_k"),
            )
        )
        out = overlap if out is None else out.unionByName(overlap)
    return out.orderBy("trunc_dim")


def q_truncated_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation ablation at d=8/16/64 over the first 20 query
    vectors (recall@5 vs the full 64-dim truth)."""
    return truncated_dim_recall(_emb(spark, sf_dir))


def q_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bounded slice: exact all-pairs is the oracle path, not the scale path
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 200)
    return cosine_pairs(emb, threshold=0.4)


def q_semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bounded slice, exact strategy: the oracle-checkable verification
    # path (mirrors q_embedding_cosine_pairs); the LSH strategy is the
    # corpus-scale binding below
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 200)
    return semantic_dedup_keep(emb, threshold=0.4).select("vec_id")


def q_semantic_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full table, banded candidates: linear scale path; rows-only at the
    # driver (candidate recall asserted in tests/test_similarity.py)
    emb = _emb(spark, sf_dir)
    return semantic_dedup_keep(
        emb, threshold=0.4, strategy="lsh", dim=EMB_DIM
    ).select("vec_id")


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10)
    return ann_lsh_topk(queries_df, emb, dim=EMB_DIM, k=5)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benched at the SPEED operating point (nprobe 4/16, unrefined):
    the cheapest partial probe, kept deliberately so the bench series
    tracks the minimum-scan cost shape.  On the synthetic near-uniform
    embeddings recall@5 at this point ~= the 25% scan fraction (IVF's
    worst-case data); the QUALITY point (nprobe 8/16 + 2 Lloyd
    refinements, recall@5 >= 0.7) is measured alongside it in
    APPROX_REPORT.json and pinned in tests/test_similarity.py."""
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10)
    return ann_ivf_topk(queries_df, emb, k=5, n_centroids=16, nprobe=4)


def q_ann_ivf_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF at ``nprobe == n_centroids``: every cell is probed, so the
    candidate set is the whole corpus and the result EQUALS brute force
    (pytest-asserted in tests/test_similarity.py) — which makes this the
    ANN family's hash-checked driver entry (round-8 VERDICT item 5).
    Same deterministic ordering contract as :func:`brute_force_topk`
    (rounded-6 cosine, neighbor-id tiebreak), so the brute-force oracle
    SQL applies verbatim.  The pruned-probe throughput binding
    (``ann_ivf``, nprobe 4/16) stays the documented speed point."""
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10)
    return ann_ivf_topk(queries_df, emb, k=5, n_centroids=16, nprobe=16)


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10)
    return ann_pq_topk(queries_df, emb, k=5, m=8, n_codes=32, shortlist=50)


def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 10)
    return ann_ivf_pq_topk(
        queries_df, emb, k=5, n_centroids=16, nprobe=8, shortlist=50
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "ann_brute_force": q_ann_brute_force,
        "hard_negative_pairs": q_hard_negative_pairs,
        "embedding_cosine_pairs": q_embedding_cosine_pairs,
        "semantic_dedup_keep": q_semantic_dedup_keep,
        "truncated_dim_recall": q_truncated_dim_recall,
        "ann_ivf_full_probe": q_ann_ivf_full_probe,
        # approximate; driver records rows-only, recall vs brute force /
        # exact dedup is asserted in tests/test_similarity.py
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "ann_pq": q_ann_pq,
        "ann_ivf_pq": q_ann_ivf_pq,
        "ann_mmr": q_ann_mmr,
        "semantic_dedup_lsh": q_semantic_dedup_lsh,
    }


#: unnested element table + per-vector norms (DuckDB 1.0 has no
#: WITH ORDINALITY; generate_subscripts provides the element index)
_COSINE_CTES = """
    e AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings),
    norms AS (
      SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY 1)
"""


def oracle_sql() -> dict[str, str]:
    sql = {
        "ann_brute_force": f"""
            WITH {_COSINE_CTES},
            dots AS (
              SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                     sum(a.v * b.v) AS dp
              FROM e a JOIN e b ON a.i = b.i AND a.vec_id <> b.vec_id
              WHERE a.vec_id < 10
              GROUP BY 1, 2),
            sims AS (
              SELECT query_id, neighbor_id,
                     round(dp / (na.nrm * nb.nrm), 6) AS cosine_sim
              FROM dots
              JOIN norms na ON query_id = na.vec_id
              JOIN norms nb ON neighbor_id = nb.vec_id)
            SELECT query_id, neighbor_id, cosine_sim, rnk FROM (
              SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
              FROM sims)
            WHERE rnk <= 5
        """,
        "hard_negative_pairs": f"""
            WITH {_COSINE_CTES},
            lbl AS (SELECT vec_id, label FROM embeddings),
            dots AS (
              SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                     sum(a.v * b.v) AS dp
              FROM e a JOIN e b ON a.i = b.i
              WHERE a.vec_id < 10
              GROUP BY 1, 2),
            sims AS (
              SELECT query_id, ql.label AS query_label,
                     neighbor_id, nl.label AS neighbor_label,
                     round(dp / (na.nrm * nb.nrm), 6) AS cosine_sim
              FROM dots
              JOIN norms na ON query_id = na.vec_id
              JOIN norms nb ON neighbor_id = nb.vec_id
              JOIN lbl ql ON query_id = ql.vec_id
              JOIN lbl nl ON neighbor_id = nl.vec_id
              WHERE ql.label <> nl.label)
            SELECT query_id, query_label, neighbor_id, neighbor_label,
                   cosine_sim, rnk FROM (
              SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
              FROM sims)
            WHERE rnk <= 3
        """,
        "embedding_cosine_pairs": f"""
            WITH {_COSINE_CTES},
            dots AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dp
              FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
              WHERE a.vec_id < 200 AND b.vec_id < 200
              GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(dp / (na.nrm * nb.nrm), 6) AS cosine_sim
            FROM dots
            JOIN norms na ON id_a = na.vec_id
            JOIN norms nb ON id_b = nb.vec_id
            WHERE round(dp / (na.nrm * nb.nrm), 6) >= 0.4
        """,
        "truncated_dim_recall": """
            WITH e AS (
              SELECT vec_id AS vid, CAST(unnest(embedding) AS DOUBLE) AS v,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings),
            dots AS (
              SELECT a.vid AS query_id, b.vid AS neighbor_id,
                     sum(CASE WHEN a.i <= 8 THEN a.v * b.v END) AS dp8,
                     sum(CASE WHEN a.i <= 16 THEN a.v * b.v END) AS dp16,
                     sum(a.v * b.v) AS dp64
              FROM e a JOIN e b ON a.i = b.i AND a.vid <> b.vid
              WHERE a.vid < 20
              GROUP BY 1, 2),
            norms AS (
              SELECT vid,
                     sqrt(sum(CASE WHEN i <= 8 THEN v * v END)) AS nrm8,
                     sqrt(sum(CASE WHEN i <= 16 THEN v * v END)) AS nrm16,
                     sqrt(sum(v * v)) AS nrm64
              FROM e GROUP BY 1),
            sims AS (
              SELECT query_id, neighbor_id,
                     round(dp8 / (na.nrm8 * nb.nrm8), 6) AS cos8,
                     round(dp16 / (na.nrm16 * nb.nrm16), 6) AS cos16,
                     round(dp64 / (na.nrm64 * nb.nrm64), 6) AS cos64
              FROM dots
              JOIN norms na ON query_id = na.vid
              JOIN norms nb ON neighbor_id = nb.vid),
            t8 AS (
              SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id, row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY cos8 DESC, neighbor_id ASC) AS r
                FROM sims) WHERE r <= 5),
            t16 AS (
              SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id, row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY cos16 DESC, neighbor_id ASC) AS r
                FROM sims) WHERE r <= 5),
            t64 AS (
              SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id, row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY cos64 DESC, neighbor_id ASC) AS r
                FROM sims) WHERE r <= 5)
            SELECT CAST(8 AS INT) AS trunc_dim,
                   CAST(count(*) AS BIGINT) AS sum_overlap,
                   round(CAST(count(*) AS DOUBLE)
                         / CAST(100 AS DOUBLE), 4) AS recall_at_k
            FROM t8 JOIN t64 USING (query_id, neighbor_id)
            UNION ALL
            SELECT CAST(16 AS INT),
                   CAST(count(*) AS BIGINT),
                   round(CAST(count(*) AS DOUBLE) / CAST(100 AS DOUBLE), 4)
            FROM t16 JOIN t64 USING (query_id, neighbor_id)
            UNION ALL
            SELECT CAST(64 AS INT),
                   CAST(count(*) AS BIGINT),
                   round(CAST(count(*) AS DOUBLE) / CAST(100 AS DOUBLE), 4)
            FROM t64 a JOIN t64 b USING (query_id, neighbor_id)
            ORDER BY trunc_dim
        """,
        "semantic_dedup_keep": f"""
            WITH {_COSINE_CTES},
            dots AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dp
              FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
              WHERE a.vec_id < 200 AND b.vec_id < 200
              GROUP BY 1, 2),
            dropped AS (
              SELECT DISTINCT id_b
              FROM dots
              JOIN norms na ON id_a = na.vec_id
              JOIN norms nb ON id_b = nb.vec_id
              WHERE round(dp / (na.nrm * nb.nrm), 6) >= 0.4)
            SELECT vec_id FROM embeddings
            WHERE vec_id < 200
              AND vec_id NOT IN (SELECT id_b FROM dropped)
        """,
    }
    # full-probe IVF == brute force exactly (nprobe == n_centroids: the
    # candidate set is the whole corpus; same round-6 cosine + id
    # tiebreak), so the brute-force oracle applies verbatim
    sql["ann_ivf_full_probe"] = sql["ann_brute_force"]
    return sql
