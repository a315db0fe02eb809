"""Session-bounded persist pools (round 9).

Operators persist mid-plan tables that BOTH sides of a self-join (or a
multi-output fan-out) read — correct and necessary, but a bare
``df.persist()`` whose handle escapes into a returned lazy plan can
never be unpersisted at a safe point by the operator itself, so every
call in a long-lived session (the bench loop, the driver's 50-query
sample, a notebook) accumulated another cached table in executor
storage memory (ADVICE r9 flagged the LSH instance; this generalizes
the fix to every such site).

``bounded_persist(df, pool)`` keeps AT MOST ONE cached table per pool
(one pool per call site): each call evicts the pool's previous entry
before persisting the new one. The session-wide cache footprint is
then bounded by the number of persist SITES, not the number of query
invocations.

Contract (same as Spark's own cache semantics under eviction):
construct-then-consume. Materialize one call's result before invoking
the SAME operator again; interleaving two constructions of one site
keeps results CORRECT (unpersist only drops the cache — the lineage
recomputes) but forfeits the earlier call's cache hit.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_POOLS: dict[str, DataFrame] = {}
_LOCK = threading.Lock()


def bounded_persist(df: DataFrame, pool: str) -> DataFrame:
    """persist() with a session-wide bound of one cached table per
    ``pool``. Returns the persisted DataFrame."""
    with _LOCK:
        prev = _POOLS.pop(pool, None)
        if prev is not None:
            try:
                prev.unpersist()
            except Exception:
                pass  # session torn down between calls; nothing cached
        df = df.persist()
        _POOLS[pool] = df
    return df


def evict_pools(prefix: str) -> None:
    """Unpersist and forget every pool whose name starts with
    ``prefix``. Iterative operators name one pool per round
    (``<site>-r<i>``) and call this at entry, so a run with fewer
    rounds than the previous one leaves none of the higher rounds'
    caches behind."""
    with _LOCK:
        for pool in [p for p in _POOLS if p.startswith(prefix)]:
            try:
                _POOLS.pop(pool).unpersist()
            except Exception:
                pass  # session torn down between calls; nothing cached


def pooled(pool: str):
    """Chain-friendly adapter: ``df.transform(pooled("site-name"))`` is
    ``bounded_persist(df, "site-name")`` without breaking a method
    chain."""
    return lambda df: bounded_persist(df, pool)
