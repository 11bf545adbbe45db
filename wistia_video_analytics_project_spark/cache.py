"""Operator-cache registry: explicit lifetime for internal `.cache()` frames.

Several operators cache a shrunken intermediate that is consumed by two
branches of the same plan (minhash signatures, WAU day/entity pairs,
skew counts, SRP bands, rolling HLL sketches).  The cache is the right
call at scale — it prevents a second full pass over the raw input — but
Spark has no "unpersist when my consumers finish" hook, so in a
long-lived session repeated operator calls would accumulate executor
storage memory (round-2 ADVICE, analytics.py item).

This module makes the lifetime explicit instead of leaky:

- operators cache and register every internal frame in one call,
  :func:`persist`, so a frame cannot be registered without being cached;
- callers release them all after their terminal action with
  :func:`release_caches` (bench.py does this between queries; a
  long-lived service would do it per request/batch).

The registry holds STRONG references on purpose: the operator's local
Python wrapper dies when the operator returns, while the JVM-side
cached RDD lives until someone calls ``unpersist`` — a weak reference
would be dead exactly when the leak exists.  The pinned Python object
is a few hundred bytes; the executor storage it lets us free is the
real resource.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []


def persist(df: DataFrame) -> DataFrame:
    """Cache ``df`` and register it for later bulk release; returns the
    cached frame."""
    cached = df.cache()
    _LIVE.append(cached)
    return cached


def release_caches() -> int:
    """Unpersist every tracked cache; returns how many were released.
    Safe to call at any time — unpersisting a frame that a later action
    re-reads only costs recomputation, never correctness."""
    released = 0
    for df in _LIVE:
        try:
            df.unpersist()
            released += 1
        except Exception:  # session already stopped
            pass
    _LIVE.clear()
    return released
