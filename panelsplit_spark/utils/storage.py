"""Deterministic executor-storage hygiene for long-lived sessions.

Iterative operators persist or ``localCheckpoint`` intermediates (edge
lists, streaming state, cached OOF frames). Fine-grained handles are
exposed as ``result.persisted_intermediates`` and released by the query
wrappers, but the RETURNED frame's own storage — persisted so callers
can consume it several times, or localCheckpoint blocks backing a
lineage cut — can only be released after the caller is done with it,
and the automatic path (driver GC → py4j finalizer queue → JVM GC →
ContextCleaner) lags by tens of seconds on an idle heap. A harness that
runs hundreds of queries back to back (bench, the correctness gate)
accumulates storage over that lag and starts paying eviction churn.

``release_all_pinned`` is the explicit terminal: after a query's result
is fully consumed, unpersist EVERYTHING still pinned via the JVM's own
persistent-RDD map — including localCheckpoint blocks, which
``DataFrame.unpersist()`` cannot reach. Only safe once no frame derived
from checkpointed state will be re-executed (a local checkpoint's
blocks are its only data); registry queries reload from parquet, so
between-query release is always sound.
"""

from __future__ import annotations

__all__ = ["release_all_pinned", "pinned_rdd_ids"]


def pinned_rdd_ids(spark) -> list:
    """Ids of every RDD currently pinned in executor storage."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return sorted(jmap.keySet().toArray())


def release_all_pinned(spark, blocking: bool = False) -> int:
    """Unpersist every pinned RDD (cache/persist AND localCheckpoint
    blocks). Returns how many were released. Call only when all
    outstanding query results have been fully consumed.

    Also drops the suffstats moment memo (linear_fastpath._MOMENT_CACHE,
    under its lock): that memo exists so ONE query invocation (a
    hyper-parameter sweep) computes its per-period moment cube once, but
    it is keyed on session-lived frames, so left alone it would also
    serve a LATER query — or a bench median re-run — collected
    aggregate rows it never computed. This function is the between-queries terminal, so clearing
    here scopes the memo to a single invocation: within-query reuse
    keeps working, cross-invocation reuse cannot."""
    from ..operators.linear_fastpath import _CACHE_LOCK, _MOMENT_CACHE

    with _CACHE_LOCK:
        _MOMENT_CACHE.clear()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for rid in list(jmap.keySet().toArray()):
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(blocking)
            n += 1
    # SQL-cached relations (df.cache()) are also block-backed but keyed
    # in the cacheManager — clear that index too so re-planned queries
    # don't resolve to just-released blocks
    spark.catalog.clearCache()
    return n
