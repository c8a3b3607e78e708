"""Persist/unpersist helpers tolerant of Spark Connect differences.

Classic and Connect sessions differ in which StorageLevels the
persist API accepts (Connect serializes the level over the wire and
rejects some combinations). Callers that persist purely as a plan-
reuse optimization must not fail the query over that — but a bare
``except: pass`` also swallows real misconfiguration, so a failed
persist emits a FallbackWarning (once per process) with the
exception, and a failed unpersist is logged at debug.

Lifetime: an operator persists a plan with more than one downstream
consumer (jaccard reads the hashed shingle arrays three times:
document frequency, prefix build, verification; minhash twice), so
the scan, tokenize, shingle and hash chain runs once instead of once
per consumer. These persists outlive the call by design: the
operator returns a LAZY result, so there is no safe point to
unpersist inside it, and the cache is left to LRU eviction (the
shingle-array cache, the truncated-bound slim frame, the
broadcast-verify slim/needed/cands frames and lsh_candidate_pairs'
banded frame all do; pagerank releases its own because its result is
checkpointed before return). A long-lived session running many such
queries accumulates dead entries until eviction reclaims them:
memory-safe (MEMORY_AND_DISK evicts cleanly, and identical plans
share one entry) but not free, so batch callers that materialize
each result call ``spark.catalog.clearCache()`` between queries, as
tools/certify.py does before every timed rep.
"""

from __future__ import annotations

import logging

from ..errors import warn_fallback_once

log = logging.getLogger(__name__)


def try_persist(df):
    """Persist ``df`` at MEMORY_AND_DISK; on failure warn once per
    process and return the frame unpersisted — the plan stays
    correct, only the reuse optimization is lost."""
    from pyspark import StorageLevel

    try:
        return df.persist(StorageLevel.MEMORY_AND_DISK)
    except Exception as exc:
        warn_fallback_once(
            "plans.cache.try_persist",
            "persist unavailable; continuing unpersisted",
            exc,
        )
        return df


def try_unpersist(df):
    """Unpersist ``df``; on failure log at debug (a frame that never
    persisted has nothing to release)."""
    try:
        df.unpersist()
    except Exception as exc:
        log.debug("unpersist failed: %r", exc)
    return df
