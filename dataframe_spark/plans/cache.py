"""Persist/unpersist helpers tolerant of Spark Connect differences.

Classic and Connect sessions differ in which StorageLevels the
persist API accepts (Connect serializes the level over the wire and
rejects some combinations). Callers that persist purely as a plan-
reuse optimization must not fail the query over that — but a bare
``except: pass`` also swallows real misconfiguration, so a failed
persist emits a FallbackWarning (once per process) with the
exception, and a failed unpersist is logged at debug.
"""

from __future__ import annotations

import logging

from ..errors import warn_fallback_once

log = logging.getLogger(__name__)


def try_persist(df, level=None):
    """Persist ``df`` (MEMORY_AND_DISK default); on failure warn once
    per process and return the frame unpersisted — the plan stays
    correct, only the reuse optimization is lost."""
    if level is None:
        from pyspark import StorageLevel

        level = StorageLevel.MEMORY_AND_DISK
    try:
        return df.persist(level)
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
