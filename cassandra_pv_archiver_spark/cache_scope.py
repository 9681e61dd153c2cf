"""Invocation-scoped persist registry (r11 review: persist hygiene).

Several query bodies ``persist()`` a subtree that feeds two or more
consumers of ONE returned plan (the cms exact term table, oov's
doc-term table, the bpe occurrence table, vocab-overlap's top table).
The persist is the right §7.2 fix *within* an invocation, but the
operator cannot unpersist it itself — the caller actions the returned
DataFrame later — and a bare ``persist()`` then outlives the query:
Spark's CacheManager dedupes by analyzed-plan equality, so a repeated
timing pass silently reads pass 1's cache and under-reports the
aggregation cost, and a long-lived session leaks executor memory.

:func:`persist_scoped` registers every such persist here;
:func:`drain` unpersists and clears. ``bench.run_one`` drains after
each timed action (each bench pass pays the full plan), and any
bounded-lifetime caller can do the same. Session-scoped materialized
views (catalog_data._PAIR_CACHE) deliberately do NOT go through this —
their lifetime is the session by design and their build cost is
adjudicated by the ``materialize_*`` bench entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LOG: list[DataFrame] = []


def persist_scoped(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for the next :func:`drain` —
    unless the caller already cached it (:func:`persist_logged`'s
    guard: the owner of that cache manages its lifetime)."""
    return persist_logged(df)


def persist_logged(df: DataFrame, cache_log: list | None = None) -> DataFrame:
    """The canonical operator-internal persist (r12): if the caller
    manages lifetime (``cache_log`` list — the round-10 convention),
    record it there; otherwise register here so a bounded-lifetime
    caller's :func:`drain` still reaches it (pre-r12, a ``None``
    cache_log leaked the entry for the driver's lifetime AND let a
    repeated timing pass silently reuse it). Never re-persists a
    DataFrame the caller already cached — a session-scoped table must
    not be unpersisted out from under its owner."""
    if df.is_cached:
        return df
    df.persist()
    (_LOG if cache_log is None else cache_log).append(df)
    return df


def drain() -> int:
    """Unpersist every registered DataFrame; returns how many. Blocks
    until the cached blocks are freed, so the cleanup cannot spill into
    whatever the caller times next."""
    n = len(_LOG)
    for df in _LOG:
        try:
            df.unpersist(blocking=True)
        except Exception:  # noqa: BLE001 — a dead session has nothing to free
            pass
    _LOG.clear()
    return n
