"""Stage profile of one call, read back from Spark's own job records.

    from tools.stage_profile import profile_call
    out, prof = profile_call(spark, lambda: run_and_write(...))

The library runs every eager step of an operator under the Spark job
tag ``<op>:<step>`` (``dataframe_spark.plans.trace``). ``profile_call``
runs a callable, waits for Spark's listener bus to drain, and groups
the jobs the call started by that tag, as the application status
store holds them (Spark keeps it with the UI off; it retains the
latest ``spark.ui.retainedJobs`` jobs, 1,000 by default). Jobs with no
library tag fall under ``result``: the action on an operator's
returned frame, and any job of reading its input (a Parquet footer
read, say) inside the call. The reader needs a classic (py4j) session and
imports nothing from the library, so it reads any checkout's jobs.
"""

from __future__ import annotations

import re
import time

_STEP_TAG = re.compile(r"\w+:\w+")
# Spark tags each job of a SQL execution with its root execution id
_ROOT_ID = "-execution-root-id-"


def _union_s(intervals) -> float:
    """Total length in seconds of the union of [start, end) ms spans."""
    total, reach = 0, None
    for a, b in sorted(intervals):
        if reach is None or a > reach:
            total, reach = total + b - a, b
        elif b > reach:
            total, reach = total + b - reach, b
    return total / 1000


def profile_call(spark, fn):
    """``(fn(), profile)``. ``profile`` holds the call's end-to-end
    ``wall_s``, its Spark ``jobs`` and SQL executions (``sql``, the
    distinct root execution ids of those jobs), ``driver_idle_s`` (the
    wall minus the union of all job intervals) and ``steps``: per tag,
    in order of first job, the step's ``wall_s`` (the union of its job
    intervals), ``jobs``, ``sql``, summed executor run time
    (``executor_s``) and shuffle read plus write (``shuffle_mb``)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store = jsc.statusStore()
    bus = jsc.listenerBus()
    bus.waitUntilEmpty()
    # jobsList is newest first
    known = store.jobsList(None)
    first = known.head().jobId() + 1 if known.nonEmpty() else 0
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    bus.waitUntilEmpty()
    listed = store.jobsList(None)
    jobs = []
    for i in range(listed.size()):
        j = listed.apply(i)
        if j.jobId() < first:
            break
        jobs.append(j)
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    steps, seen = {}, set()
    for j in reversed(jobs):
        tags = j.jobTags().mkString("\n").split("\n")
        step = next((t for t in tags if _STEP_TAG.fullmatch(t)), "result")
        rec = steps.setdefault(
            step, {"spans": [], "roots": set(), "executor_ms": 0, "shuffle_b": 0}
        )
        rec["spans"].append(
            (j.submissionTime().get().getTime(), j.completionTime().get().getTime())
        )
        rec["roots"].update(t for t in tags if _ROOT_ID in t)
        for sid in filter(None, j.stageIds().mkString(",").split(",")):
            if sid in seen:  # a stage a later job reuses counts once
                continue
            seen.add(sid)
            attempts = store.stageData(
                int(sid), False, no_status, False, no_quantiles
            )
            for k in range(attempts.size()):
                s = attempts.apply(k)
                rec["executor_ms"] += s.executorRunTime()
                rec["shuffle_b"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
    spans = [sp for r in steps.values() for sp in r["spans"]]
    return out, {
        "wall_s": round(wall, 3),
        "driver_idle_s": round(wall - _union_s(spans), 3),
        "jobs": len(jobs),
        "sql": len(set().union(*(r["roots"] for r in steps.values()))),
        "steps": {
            step: {
                "wall_s": round(_union_s(r["spans"]), 3),
                "jobs": len(r["spans"]),
                "sql": len(r["roots"]),
                "executor_s": round(r["executor_ms"] / 1000, 3),
                "shuffle_mb": round(r["shuffle_b"] / (1 << 20), 1),
            }
            for step, r in steps.items()
        },
    }

