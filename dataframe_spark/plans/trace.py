"""Spark job tags for an operator's eager steps.

Most operators return a lazy frame, but some run Spark jobs before
they return: a sample collected to the driver, a cache barrier, a
size probe, a k-means iteration. Each such step runs under the job tag
``<operator>:<step>`` (``jaccard_pairs:prefix``, ``kmeans_fit:iter2``),
so Spark's own job records say which step of which operator started a
job; the jobs of the returned frame's action carry no library tag.
Tags sit on leaf steps only, so a job carries at most one of them.
Nothing is recorded here and no plan changes.
"""

from __future__ import annotations

import contextlib


@contextlib.contextmanager
def stage(op: str, step: str):
    """Tag every Spark job started inside the block ``op:step``. A
    no-op without an in-process SparkContext (Spark Connect)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        yield
        return
    tag = f"{op}:{step}"
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)
