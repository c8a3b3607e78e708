"""Connect-safe plan statistics.

Catalyst's plan-side size estimate (file sizes for scans, propagated
through the plan) gates several operators' small-vs-distributed
cutover — the same statistic AQE and the broadcast threshold
consult. Reading it runs NO job, but the accessor chain
(``_jdf.queryExecution()``) only exists on classic-mode DataFrames;
under Spark Connect there is no JVM handle, so callers get LARGE
instead, which routes Connect sessions onto the fully-distributed
path — the side that is always correct, merely not the small-input
shortcut. The first fallback in a process emits a FallbackWarning.

A leaf with no size estimate reads ``spark.sql.defaultSizeInBytes``
(2^63-1), so every gate takes its scale side for it, as Spark's
broadcast planner does. ``createDataFrame`` from a Python list makes
such a leaf (a LogicalRDD); from pandas it makes a sized
LocalRelation.
"""

from __future__ import annotations

from ..errors import warn_fallback_once

LARGE = 1 << 62  # "assume big": pick the distributed/scale path


def plan_size_bytes(sdf) -> int:
    try:
        return int(
            sdf._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception as exc:  # Spark Connect: no _jdf / py4j handle
        warn_fallback_once(
            "plans.stats.plan_size_bytes",
            "plan statistics unavailable; gates take the LARGE size",
            exc,
        )
        return LARGE
