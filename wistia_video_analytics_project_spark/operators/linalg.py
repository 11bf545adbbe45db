"""Distributed linear algebra over embedding columns (PCA, Markov chains).

The 100 TB design: every statistic here is computed from ONE distributed
pass that reduces each partition to a fixed-size partial — ``d²+d+1``
floats for the Gram/covariance sufficient statistics, ``k²`` counts for
the Markov transition matrix — so the shuffle volume is
``O(partitions · d²)``, never ``O(rows)``. The tiny dense eigenproblem
(``d×d`` with d = embedding width, or k×k with k = event-type domain)
is intrinsically driver-sized and solved with numpy under the same
bounded-collect contract the IVF centroids use (``similarity.py``);
the projection back onto the corpus is pure JVM higher-order functions
over the distributed frame — no per-row Python.

Reference parity: the reference has no linear-algebra surface; this
module is part of the LLM-corpus tier (embedding diagnostics a
100 TB training-data pipeline needs: intrinsic dimensionality,
variance concentration, whitening-ready components).
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F


def stats_flat(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """The distributed half of :func:`sufficient_stats`: the merged
    ``(idx, val)`` frame — ``dim² + dim + 1`` rows total. Exposed so the
    shuffle shape (two scalar columns, fixed row count) can be
    plan-asserted and so callers can persist the statistics."""
    d = int(dim)
    n_gram = d * d

    def partials(it):
        import pandas as pd

        g = np.zeros(n_gram + d + 1, dtype=np.float64)
        for pdf in it:
            if len(pdf) == 0:
                continue
            vals = [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            # validate widths BEFORE np.array: ragged input would raise
            # numpy's opaque inhomogeneous-shape error (or, on older
            # numpy, build an object array and IndexError on shape[1])
            # instead of the intended diagnostic (round-4 ADVICE)
            widths = {v.shape[0] if v.ndim == 1 else -1 for v in vals}
            if widths != {d}:
                raise ValueError(
                    f"expected {d}-wide vectors, got ragged/mismatched "
                    f"widths {sorted(widths)}"
                )
            mat = np.array(vals)
            g[:n_gram] += (mat.T @ mat).ravel()
            g[n_gram : n_gram + d] += mat.sum(axis=0)
            g[n_gram + d] += len(mat)
        yield pd.DataFrame({"idx": np.arange(n_gram + d + 1), "val": g})

    return (
        df.select(vec_col)
        .mapInPandas(partials, schema="idx int, val double")
        .groupBy("idx")
        .agg(F.sum("val").alias("val"))
    )


def sufficient_stats(df: DataFrame, vec_col: str, dim: int):
    """One-pass (n, Σx, XᵀX) over an ``array<float>`` column.

    Arrow-batched ``mapInPandas`` reduces each PARTITION to exactly
    ``dim² + dim + 1`` (idx, val) rows — the flattened Gram partial,
    the per-dimension sum partial, and the row count — which a single
    ``groupBy(idx).sum`` merges. Collect size is dim²+dim+1 rows
    regardless of corpus size.

    Returns ``(n, s, g)``: row count, sum vector ``(dim,)``, Gram
    matrix ``(dim, dim)`` as numpy arrays.
    """
    d = int(dim)
    n_gram = d * d
    rows = stats_flat(df, vec_col, d).collect()  # bounded: dim²+dim+1 rows
    buf = np.zeros(n_gram + d + 1)
    for r in rows:
        buf[r["idx"]] = r["val"]
    n = int(buf[n_gram + d])
    return n, buf[n_gram : n_gram + d], buf[:n_gram].reshape(d, d)


def _mean_cov(df: DataFrame, vec_col: str, dim: int):
    """(n, mean, sample covariance) from the one-pass sufficient
    statistics ``(XᵀX − n·μμᵀ) / (n−1)`` — the single shared body for
    covariance_matrix and zca_whiten (no centering pass over data)."""
    n, s, g = sufficient_stats(df, vec_col, dim)
    if n < 2:
        raise ValueError(f"need >= 2 rows for covariance, got {n}")
    mean = s / n
    return n, mean, (g - n * np.outer(mean, mean)) / (n - 1)


def covariance_matrix(df: DataFrame, vec_col: str, dim: int) -> np.ndarray:
    """Sample covariance from the one-pass sufficient statistics:
    ``(XᵀX − n·μμᵀ) / (n−1)`` — no centering pass over the data."""
    return _mean_cov(df, vec_col, dim)[2]


def pca(df: DataFrame, vec_col: str, dim: int, k: int):
    """Principal components of an embedding column.

    Returns ``(eigenvalues, ratios, components)``: the top-``k``
    eigenvalues (descending), their explained-variance ratios, and the
    ``(k, dim)`` component matrix. Components are sign-normalized so
    the entry with the largest absolute value is positive (eigenvector
    sign is otherwise arbitrary), keeping the output deterministic.
    """
    cov = covariance_matrix(df, vec_col, dim)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][: int(k)]
    top_vals = vals[order]
    comps = vecs[:, order].T  # (k, dim)
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total = float(vals.sum())
    ratios = top_vals / total if total > 0 else np.zeros_like(top_vals)
    return top_vals, ratios, comps


def zca_whiten(
    df: DataFrame,
    vec_col: str,
    dim: int,
    eps: float = 1e-5,
    out_col: str = "whitened",
    out_dims: int | None = None,
):
    """ZCA whitening of an embedding column: ``x' = W (x - mu)`` with
    ``W = U diag(1/sqrt(lambda+eps)) U^T`` from the covariance
    eigendecomposition — the rotation-free whitening that decorrelates
    dimensions while staying closest (in L2) to the original basis;
    the standard pre-conditioner before cosine-based semantic dedup
    when the embedding space has dominant directions.

    Scale shape: ONE pass of d x d sufficient statistics (bounded
    collect), an O(d^3) driver eigendecomposition, then a pure-JVM
    ``zip_with`` projection against literal rows of W — the corpus
    never leaves the executors and scoring runs no Python.  Returns
    ``(df_with_out_col, W, mu)``.  ``out_dims`` truncates the emitted
    projection to W's first rows (the full W is still returned) — a
    caller checking only a few output dims shouldn't pay the full
    d x d multiply per row.
    """
    _, mu, cov = _mean_cov(df, vec_col, dim)
    vals, vecs = np.linalg.eigh(cov)
    w = vecs @ np.diag(1.0 / np.sqrt(np.maximum(vals, 0.0) + eps)) @ vecs.T
    centered = F.zip_with(
        F.col(vec_col),
        F.array(*[F.lit(float(m)) for m in mu]),
        lambda x, m: x - m,
    )
    rows = []
    for wrow in (w if out_dims is None else w[: int(out_dims)]):
        lit = F.array(*[F.lit(float(x)) for x in wrow])
        rows.append(
            F.aggregate(
                F.zip_with(centered, lit, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    return df.withColumn(out_col, F.array(*rows)), w, mu


def transition_matrix(
    pairs: DataFrame, from_col: str, to_col: str, weight_col: str
) -> tuple[list, np.ndarray]:
    """Collect a (tiny) row-stochastic transition matrix from a counted
    transition frame. The state domain is a small enumerated set (event
    types), so the collect is ``k²`` rows by contract — the heavy
    counting pass that produced ``pairs`` stays distributed."""
    rows = pairs.select(from_col, to_col, weight_col).collect()
    states = sorted({r[from_col] for r in rows} | {r[to_col] for r in rows})
    pos = {s: i for i, s in enumerate(states)}
    k = len(states)
    mat = np.zeros((k, k))
    for r in rows:
        mat[pos[r[from_col]], pos[r[to_col]]] = float(r[weight_col])
    row_sums = mat.sum(axis=1, keepdims=True)
    # absorbing/unseen rows get a uniform self-distribution so the
    # chain stays stochastic (standard dangling-node fix)
    uniform = np.full((1, k), 1.0 / k)
    probs = np.where(row_sums > 0, mat / np.where(row_sums == 0, 1, row_sums),
                     uniform)
    return states, probs


def stationary_distribution(
    probs: np.ndarray, tol: float = 1e-12, max_iter: int = 10_000
) -> np.ndarray:
    """Power iteration from the uniform start — deterministic given the
    matrix (fixed start, fixed tolerance, L1 normalization each step)."""
    k = probs.shape[0]
    pi = np.full(k, 1.0 / k)
    for _ in range(max_iter):
        nxt = pi @ probs
        nxt /= nxt.sum()
        if np.abs(nxt - pi).sum() < tol:
            return nxt
        pi = nxt
    return pi


def grouped_stats_flat(
    df: DataFrame, label_col: str, vec_col: str, dim: int
) -> DataFrame:
    """Per-group sufficient statistics: the ``(label, idx, val)`` frame.

    Same one-pass reduction as :func:`stats_flat`, but each Arrow batch
    accumulates one partial PER LABEL seen in the batch — so the shuffle
    is ``O(partitions · labels · d²)`` and no task ever holds a whole
    group (unlike ``applyInPandas``, which would ship every vector of a
    label to one task — the wrong trade when one label can span TBs).
    The label domain is a bounded enumeration by contract (same as the
    Markov state domain). Labels are cast to string so any scalar label
    type round-trips the Arrow boundary."""
    d = int(dim)
    width = d * d + d + 1
    n_gram = d * d
    df = df.withColumn(label_col, F.col(label_col).cast("string"))

    def partials(it):
        import pandas as pd

        acc: dict = {}
        for pdf in it:
            if len(pdf) == 0:
                continue
            # dropna=False: a NULL-label cohort must surface as its own
            # group, not silently vanish (pandas drops it by default)
            for label, sub in pdf.groupby(
                label_col, sort=False, dropna=False
            ):
                mat = np.array(
                    [np.asarray(v, dtype=np.float64) for v in sub[vec_col]]
                )
                if mat.shape[1] != d:
                    raise ValueError(
                        f"expected {d}-wide vectors, got {mat.shape[1]}"
                    )
                buf = acc.setdefault(label, np.zeros(width))
                buf[:n_gram] += (mat.T @ mat).ravel()
                buf[n_gram : n_gram + d] += mat.sum(axis=0)
                buf[n_gram + d] += len(mat)
        for label, buf in acc.items():
            yield pd.DataFrame(
                {
                    "label": label,
                    "idx": np.arange(width),
                    "val": buf,
                }
            )

    return (
        df.select(label_col, vec_col)
        .mapInPandas(partials, schema="label string, idx int, val double")
        .groupBy("label", "idx")
        .agg(F.sum("val").alias("val"))
    )


def grouped_covariances(
    df: DataFrame, label_col: str, vec_col: str, dim: int
) -> dict:
    """Per-label ``(n, mean, covariance)`` from one distributed pass.
    Collect size is ``labels · (d²+d+1)`` rows — bounded by the label
    domain, never by the corpus."""
    d = int(dim)
    n_gram = d * d
    rows = grouped_stats_flat(df, label_col, vec_col, d).collect()
    bufs: dict = {}
    for r in rows:
        bufs.setdefault(r["label"], np.zeros(n_gram + d + 1))[r["idx"]] = r["val"]
    out = {}
    for label, buf in bufs.items():
        n = int(buf[n_gram + d])
        s = buf[n_gram : n_gram + d]
        g = buf[:n_gram].reshape(d, d)
        if n < 2:
            continue
        mean = s / n
        out[label] = (n, mean, (g - n * np.outer(mean, mean)) / (n - 1))
    return out


def effective_rank(cov: np.ndarray, eps: float = 1e-12) -> float:
    """Participation-ratio effective rank: exp(H(λ/Σλ)) over the
    eigenvalue distribution — ~d for isotropic data, ~1 when one
    direction dominates. The standard intrinsic-dimensionality summary
    (Roy & Vetterli 2007)."""
    vals = np.linalg.eigvalsh(cov)
    vals = np.clip(vals, 0.0, None)
    total = vals.sum()
    if total <= eps:
        return 0.0
    p = vals / total
    p = p[p > eps]
    return float(np.exp(-(p * np.log(p)).sum()))


def mahalanobis_scores(
    df: DataFrame,
    vec_col: str,
    mean: np.ndarray,
    cov: np.ndarray,
    ridge: float = 1e-6,
    out_col: str = "mahalanobis",
) -> DataFrame:
    """Distributed Mahalanobis distance per vector: ``||W(x-μ)||`` with
    ``W = Σ^{-1/2}`` (eigendecomposition with a ridge on the
    eigenvalues, computed once on the driver). The per-row work is a
    numpy matmul over each Arrow batch — vectorized, no per-row Python
    — and the (d×d) whitener rides the closure, not a shuffle."""
    d = len(mean)
    vals, vecs = np.linalg.eigh(cov)
    w = vecs @ np.diag(1.0 / np.sqrt(np.clip(vals, 0.0, None) + ridge)) @ vecs.T
    mu = np.asarray(mean, dtype=np.float64)

    # BLAS gemm blocking varies with the row count of the batch, so a
    # variable-shape (n×d)@(d×d) can differ by one ulp per row between
    # partition/Arrow layouts.  Scoring in FIXED-shape slabs (zero-pad
    # the tail) pins the kernel shape, making each row's score a pure
    # function of (row, W) — bit-identical across layouts.
    slab = 1024

    def _scores(mat: np.ndarray) -> np.ndarray:
        n = mat.shape[0]
        out = np.empty(n, dtype=np.float64)
        for s in range(0, n, slab):
            blk = mat[s : s + slab]
            r = blk.shape[0]
            if r != slab:
                padded = np.zeros((slab, blk.shape[1]), dtype=np.float64)
                padded[:r] = blk
                blk = padded
            z = (blk - mu) @ w.T
            out[s : s + r] = np.sqrt((z * z).sum(axis=1))[:r]
        return out

    def score(it):
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if mat.shape[1] != d:
                raise ValueError(f"expected {d}-wide vectors")
            pdf = pdf.drop(columns=[vec_col])
            pdf[out_col] = _scores(mat)
            yield pdf

    fields = [f for f in df.schema.fields if f.name != vec_col]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in fields
    ) + f", {out_col} double"
    return df.mapInPandas(score, schema=schema)


# ---------------------------------------------------------------------------
# Logistic regression: distributed Newton-IRLS via sufficient statistics
# ---------------------------------------------------------------------------


def logistic_stats_flat(
    df: DataFrame, vec_col: str, y_col: str, weights: np.ndarray, dim: int
) -> DataFrame:
    """One Newton iteration's distributed half: with current augmented
    weights ``w`` (bias last), reduce every partition to the flattened
    ``(XᵀWX, Xᵀ(y−p), Σnll, n)`` partials — ``(dim+1)² + dim + 3``
    (idx, val) rows — merged by one ``groupBy(idx).sum``. The same
    bounded-collect shape as :func:`stats_flat`: driver work is O(dim²)
    regardless of row count."""
    d = int(dim)
    aug = d + 1
    n_h = aug * aug
    wvec = np.asarray(weights, dtype=np.float64).copy()
    if wvec.shape != (aug,):
        raise ValueError(f"expected {aug} weights (bias last), got {wvec.shape}")

    def partials(it):
        import pandas as pd

        buf = np.zeros(n_h + aug + 2, dtype=np.float64)
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if mat.shape[1] != d:
                raise ValueError(f"expected {d}-wide vectors, got {mat.shape[1]}")
            xa = np.hstack([mat, np.ones((len(mat), 1))])
            y = pdf[y_col].to_numpy(dtype=np.float64)
            p = 1.0 / (1.0 + np.exp(-(xa @ wvec)))
            irls_w = p * (1.0 - p)
            buf[:n_h] += ((xa.T * irls_w) @ xa).ravel()
            buf[n_h : n_h + aug] += xa.T @ (y - p)
            pc = np.clip(p, 1e-12, 1.0 - 1e-12)
            buf[n_h + aug] += -(y * np.log(pc) + (1.0 - y) * np.log1p(-pc)).sum()
            buf[n_h + aug + 1] += len(mat)
        yield pd.DataFrame({"idx": np.arange(n_h + aug + 2), "val": buf})

    return (
        df.select(vec_col, y_col)
        .mapInPandas(partials, schema="idx int, val double")
        .groupBy("idx")
        .agg(F.sum("val").alias("val"))
    )


def logistic_train(
    df: DataFrame,
    vec_col: str,
    y_col: str,
    dim: int,
    iterations: int = 6,
    ridge: float = 1e-3,
):
    """Binary logistic regression trained by distributed Newton-IRLS —
    the quality-classifier training loop of an LLM data pipeline
    (fastText/logreg-style doc scoring), expressed Spark-first.

    Each iteration is ONE pass over the (cached) data producing the
    flattened Hessian/gradient/loss sufficient statistics
    (:func:`logistic_stats_flat`); the driver solves the (dim+1)²
    ridge-damped Newton system and updates the weights. Iteration
    count is the job count (training-shaped, like Lloyd/BPE); per-job
    collect is (dim+1)²+dim+3 rows regardless of data size, so the
    loop holds at 100 TB with dim in the hundreds.

    Returns ``(weights (dim,), bias, losses)`` — ``losses`` is the
    mean negative log-likelihood per iteration, evaluated at that
    iteration's STARTING weights (so ``losses[0]`` is the null-model
    loss ≈ ln 2 for balanced classes).
    """
    from .. import cache

    d = int(dim)
    aug = d + 1
    n_h = aug * aug
    feats = df.select(
        F.col(vec_col).alias("__v"), F.col(y_col).cast("double").alias("__y")
    )
    if not df.is_cached:  # a cached input already serves every pass
        feats = cache.persist(feats)
    w = np.zeros(aug, dtype=np.float64)
    losses: list[float] = []
    for _ in range(int(iterations)):
        rows = logistic_stats_flat(feats, "__v", "__y", w, d).collect()
        buf = np.zeros(n_h + aug + 2)
        for r in rows:
            buf[r["idx"]] = r["val"]
        n = buf[n_h + aug + 1]
        if n == 0:
            raise ValueError("empty training frame")
        hess = buf[:n_h].reshape(aug, aug) + float(ridge) * np.eye(aug)
        grad = buf[n_h : n_h + aug]
        losses.append(float(buf[n_h + aug] / n))
        w = w + np.linalg.solve(hess, grad)
    return w[:d], float(w[d]), losses


def logistic_margin(
    df: DataFrame,
    vec_col: str,
    weights: np.ndarray,
    bias: float,
    out_col: str = "margin",
) -> DataFrame:
    """Decision margin ``w·x + b`` per row — pure JVM ``zip_with`` +
    ``aggregate`` against literal weights: scoring shuffles nothing and
    runs no Python."""
    lit_w = F.array(*[F.lit(float(v)) for v in np.asarray(weights)])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), lit_w, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return df.withColumn(out_col, dot + F.lit(float(bias)))


def pava(ys: "list[float]", ws: "list[float]") -> "list[float]":
    """Weighted pool-adjacent-violators: the isotonic (non-decreasing)
    least-squares fit of ``ys`` with weights ``ws``.  Classic stack
    algorithm, O(n): adjacent blocks merge while out of order; each
    input's fitted value is its block's weighted mean.  Exact float
    determinism: merges always combine in index order."""
    if len(ys) != len(ws):
        raise ValueError("ys and ws must be the same length")
    # blocks of (weighted sum, weight, count)
    sums: list[float] = []
    wts: list[float] = []
    cnts: list[int] = []
    for y, w in zip(ys, ws):
        if w < 0:
            raise ValueError("weights must be non-negative")
        sums.append(float(y) * float(w))
        wts.append(float(w))
        cnts.append(1)
        # merge on violation (cross-multiplied: exact, no division);
        # zero-weight blocks are unconstrained and fold into a neighbor
        while len(sums) > 1 and (
            wts[-2] == 0
            or wts[-1] == 0
            or sums[-2] * wts[-1] > sums[-1] * wts[-2]  # mean_prev > mean_cur
        ):
            sums[-2:] = [sums[-2] + sums[-1]]
            wts[-2:] = [wts[-2] + wts[-1]]
            cnts[-2:] = [cnts[-2] + cnts[-1]]
    out: list[float] = []
    for s, w, c in zip(sums, wts, cnts):
        v = s / w if w > 0 else 0.0
        out.extend([v] * c)
    return out


def isotonic_fit(
    buckets: DataFrame,
    x_col: str,
    y_sum_col: str,
    n_col: str,
) -> DataFrame:
    """Isotonic calibration over pre-aggregated buckets: collect the
    BOUNDED (bucket, sum_y, n) frame ordered by ``x_col``, run PAVA on
    the driver (O(buckets) — bucket count is a design constant,
    independent of data size: the standard distributed-isotonic shape),
    and return the frame with a ``iso_rate`` column.  The raw corpus is
    never collected; only sufficient statistics cross the driver
    boundary.  The bucket frame is consumed twice (driver collect +
    the returned join), so it is cached through ``cache.persist``."""
    from ..cache import persist
    from pyspark.sql import types as T

    buckets = persist(buckets)
    rows = buckets.select(x_col, y_sum_col, n_col).orderBy(x_col).collect()
    ys = [
        (float(r[y_sum_col]) / float(r[n_col])) if r[n_col] else 0.0
        for r in rows
    ]
    ws = [float(r[n_col]) for r in rows]
    fitted = pava(ys, ws)
    spark = buckets.sparkSession
    fit_df = spark.createDataFrame(
        [(r[x_col], f) for r, f in zip(rows, fitted)],
        T.StructType(
            [
                T.StructField(x_col, buckets.schema[x_col].dataType),
                T.StructField("iso_rate", T.DoubleType()),
            ]
        ),
    )
    return buckets.join(F.broadcast(fit_df), x_col)


# ---------------------------------------------------------------------------
# Frequent Directions matrix sketch (Liberty 2013; Ghashami et al. 2016)
# ---------------------------------------------------------------------------


#: the registry/report operating point (ell rows retained)
FD_SKETCH_ELL = 16


def fd_shrink(mat: np.ndarray, ell: int) -> np.ndarray:
    """One FD shrink step: SVD the buffer, subtract the ell-th squared
    singular value from every squared singular value (floor 0), and
    keep the top ell directions.  Returns an (<=ell, d) array whose
    Gram underestimates the buffer's by at most sigma_ell^2 per unit
    direction — the invariant the error bound telescopes over."""
    if mat.shape[0] <= ell:
        return mat
    _, s, vt = np.linalg.svd(mat, full_matrices=False)
    delta = s[ell - 1] ** 2 if len(s) >= ell else 0.0
    s2 = np.maximum(s * s - delta, 0.0)[:ell]
    return (np.sqrt(s2)[:, None] * vt[:ell])[s2 > 0]


def frequent_directions(
    df: DataFrame,
    vec_col: str,
    ell: int,
    dim: int,
    with_frobenius: bool = False,
):
    """Distributed Frequent-Directions sketch of the (rows x dim)
    matrix held in ``vec_col``: a deterministic (<=ell, dim) matrix B
    with  ‖AᵀA − BᵀB‖₂ ≤ ‖A‖²_F / ell  (Liberty 2013), i.e. a
    covariance/Gram summary whose size is independent of row count —
    the STREAMING/mergeable counterpart to the exact d² sufficient
    statistics ``pca`` uses (relevant once d is too large for d²
    shuffles, or when the sketch must be maintained incrementally).

    Scale shape: each partition folds its rows through a 2ℓ-row buffer
    (Arrow batches, one SVD per ℓ new rows — O(rows·ℓ·d) work, O(ℓ·d)
    state), emits its ≤ℓ sketch rows, and the driver merges the
    partition sketches with the same shrink (FD sketches are mergeable
    with the same bound — Ghashami et al.).  Driver traffic is
    partitions × ℓ × d floats, never row-scaled.

    ``with_frobenius=True`` additionally returns ‖A‖²_F (accumulated
    inside the SAME pass — the error-budget denominator costs no
    second scan) as ``(B, fro2)``."""
    from collections.abc import Iterator

    import pandas as pd

    ell_i, d = int(ell), int(dim)

    def sketch_partition(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        buf = np.zeros((0, d))
        fro2 = 0.0
        for pdf in batches:
            if not len(pdf):
                continue
            rows = np.vstack(
                pdf[vec_col].map(np.asarray).values
            ).astype(np.float64)
            fro2 += float((rows * rows).sum())
            start = 0
            while start < len(rows):
                take = min(len(rows) - start, 2 * ell_i - len(buf))
                buf = np.vstack([buf, rows[start : start + take]])
                start += take
                if len(buf) >= 2 * ell_i:
                    buf = fd_shrink(buf, ell_i)
        buf = fd_shrink(buf, ell_i)
        if len(buf):
            # the partition's ||A_p||_F^2 rides on its first sketch row
            yield pd.DataFrame(
                {
                    "row": [r.tolist() for r in buf],
                    "fro2": [fro2] + [0.0] * (len(buf) - 1),
                }
            )

    parts = df.select(vec_col).mapInPandas(
        sketch_partition, schema="row array<double>, fro2 double"
    ).collect()
    if not parts:
        empty = np.zeros((0, d))
        return (empty, 0.0) if with_frobenius else empty
    merged = np.array([r["row"] for r in parts], dtype=np.float64)
    total_fro2 = float(sum(r["fro2"] for r in parts))
    # driver merge: concatenation + the same shrink, applied in ell-row
    # bites so the buffer never exceeds 2*ell
    out = np.zeros((0, d))
    for i in range(0, len(merged), ell_i):
        out = fd_shrink(np.vstack([out, merged[i : i + ell_i]]), ell_i)
    return (out, total_fro2) if with_frobenius else out


def q_embedding_fd_sketch(spark, sf_dir: str):
    """Frequent-Directions (ell=16) sketch of the embeddings matrix:
    per retained direction, its singular value and share of the
    sketch's squared Frobenius mass, plus the FD error budget
    ‖A‖²_F/ell each row's Gram error is bounded by.  Rows-only: the
    SVD shrink has no SQL equivalent; the spectral error bound and
    merge-invariance are pinned in tests/test_linalg.py."""
    from ..session import configure_runtime
    from ..sources import load_table
    from .similarity import EMB_DIM

    configure_runtime(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("embedding")
    )
    b, fro_a = frequent_directions(
        emb, "embedding", ell=FD_SKETCH_ELL, dim=EMB_DIM,
        with_frobenius=True,
    )
    s = np.sqrt(np.maximum(np.sum(b * b, axis=1), 0.0))
    order = np.argsort(-s)
    total = float(np.sum(s * s)) or 1.0
    rows = [
        (
            int(i + 1),
            round(float(s[j]), 4),
            round(float(s[j] * s[j] / total), 6),
            round(float(fro_a) / FD_SKETCH_ELL, 2),
        )
        for i, j in enumerate(order)
    ]
    return spark.createDataFrame(
        rows,
        "rank int, singular_value double, energy_share double, "
        "gram_error_budget double",
    )
