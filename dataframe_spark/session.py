"""SparkSession factory tuned for large-scale analytics.

The defaults mirror what we would deploy on a 1000-executor cluster:
AQE for runtime re-planning (partition coalescing, skew-join
splitting), Arrow for any Python exchange, and parquet pushdown left
fully enabled so Catalyst prunes columns/partitions at the scan.

Locally we run ``local[N]``; the same code is cluster-ready because
nothing here depends on local mode.

Python workers are forked by this package's daemon,
``dataframe_spark.plans.pyworker`` (``spark.python.daemon.module``),
which cuts the fixed cost of every Python task: workers start with the
library, numpy, pandas and pyarrow imported, a task no longer re-reads
every zip archive on the worker path, and its socket ACKs at once (see
that module). So that the daemon imports from any working directory,
the package's parent directory is appended to the workers'
``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``, after any value the
SparkConf already holds).
"""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worker_pythonpath() -> str:
    prior = SparkConf().get("spark.executorEnv.PYTHONPATH", "")
    paths = [p for p in prior.split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        paths.append(_PACKAGE_PARENT)
    return os.pathsep.join(paths)


def get_spark(
    app_name: str = "dataframe_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-oriented defaults.

    - AQE on: coalesces post-shuffle partitions and splits skewed
      join partitions at runtime — the knob that matters most at
      100 TB where static partition counts are always wrong.
    - Arrow on: any pandas UDF / toPandas exchange is columnar.
    - Python workers come from this package's daemon (module
      docstring), with the package importable on the worker path.
    - ANSI off: permissive SQL semantics (null on bad cast /
      division by zero) matching the exploratory-analytics posture
      of the reference library.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif SparkSession.getActiveSession() is None:
        builder = builder.master(f"local[{DEFAULT_SHUFFLE_PARTITIONS}]")
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "dataframe_spark.plans.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # The UI status store accumulates per-stage state for the
        # session's lifetime; with AQE's many small stages this made
        # query N of a long session up to 10x slower than query 1
        # (measured: 16-query bench 190s -> 33s with UI off). On a
        # cluster you'd keep the history server; for an embedded
        # engine the UI is dead weight.
        .config(
            "spark.ui.enabled",
            os.environ.get("SPARK_GRAFT_UI", "false"),
        )
        .config("spark.sql.ui.retainedExecutions", "10")
        # The generated-class cache defaults to 100 entries; an
        # engine serving dozens of distinct queries cycles hundreds
        # of codegen stages, so at 100 every query re-Janino-compiles
        # every stage on every run (measured: interleaved queries ran
        # 2-3x slower than back-to-back repeats of one query). 10k
        # entries keeps the working set of a realistic query mix
        # compiled once per deployment.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # Deeply composed pipelines (the corpus example chains ~7
        # stages into one lazy plan) produce plan strings big enough
        # that AQE's plan-change logging OOMs the driver BUILDING THE
        # STRING (StringConcat.toString inside explainString). Cap it:
        # explain output truncates with a marker instead of allocating
        # gigabytes. Default is effectively unbounded (2^31).
        .config("spark.sql.maxPlanStringLength", "100000")
    )
    return builder.getOrCreate()
