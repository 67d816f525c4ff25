"""Session-lifetime cache registry: the one owner of cached data.

Several operators cache an intermediate that the RETURNED lazy plan
consumes more than once (LSH signature tables feeding both the rep
aggregation and the member expansion; graph edge lists feeding every
iteration of an iterative algorithm; an ANN index's centroids feeding
both query routing and the inverted-list assignment). The operator
cannot unpersist before returning — the cache must outlive the call,
because the caller may trigger the plan at any later time. Spark's
``CacheManager`` holds cached plans by strong reference, so without an
explicit release these accumulate for the life of the session.

The contract: every operator or query that keeps data cached does it
through :func:`cached` (nothing holds cached DataFrames in module-level
memos), and a caller reclaims them all at a point where no previously
returned plan will be re-executed. :func:`release_data_caches` drops
the cached data; :func:`release_caches` also clears the plan-handle /
metadata memos registered with :func:`on_release`. Short-lived jobs
(the driver's correctness runs) never need either — the session
teardown reclaims everything. ``spark.catalog.clearCache()`` remains
the indiscriminate alternative; this registry only releases what
operators registered, so caller-owned caches survive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_REGISTRY: list[DataFrame] = []
_RELEASE_CALLBACKS: list = []


def on_release(cb) -> None:
    """Register a zero-arg callback run by :func:`release_caches` —
    for session memos whose lifetime must match the cache registry's
    (e.g. the ``load_table`` plan-handle memo in sources.registry)."""
    _RELEASE_CALLBACKS.append(cb)


def cached(df: DataFrame) -> DataFrame:
    """``df.cache()`` + register for later :func:`release_caches`."""
    df = df.cache()
    _REGISTRY.append(df)
    return df


def register(df: DataFrame) -> DataFrame:
    """Register an ALREADY-cached DataFrame for :func:`release_caches`.

    For operators that cache eagerly to answer a metadata-scale gate
    question and only then learn whether the returned plan will consume
    the cache (if not, they unpersist on the spot instead)."""
    _REGISTRY.append(df)
    return df


def release_data_caches() -> int:
    """Unpersist every registered DataFrame; returns how many.

    Keeps the :func:`on_release` memos (load_table handles, ts-sniff
    flags, drain sessions), which hold no materialized data — what a
    cold-cost benchmark wants between queries. Re-execution after
    release is still CORRECT (Spark recomputes from source), just cold."""
    n = 0
    while _REGISTRY:
        df = _REGISTRY.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
        n += 1
    return n


def release_caches() -> int:
    """Unpersist every registered DataFrame and clear the
    :func:`on_release` memos; returns how many DataFrames dropped.

    Call only when no DataFrame previously returned by an operator will
    be executed again (re-execution after release is still CORRECT —
    Spark recomputes from source — just no longer cached)."""
    n = release_data_caches()
    for cb in _RELEASE_CALLBACKS:
        try:
            cb()
        except Exception:
            pass
    return n


def registered_count() -> int:
    return len(_REGISTRY)
