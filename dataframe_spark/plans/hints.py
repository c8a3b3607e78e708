"""Physical-plan hints for cluster-scale execution.

No reference analogue (a single-node engine has no shuffles); these
are the knobs that matter at 100 TB: broadcast the small side, align
partitioning with downstream keys, and salt hot keys when AQE's
skew-join split isn't enough (e.g. a single key holding >1 executor
of rows)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..core import DataFrame


def broadcast_small(df: DataFrame) -> DataFrame:
    """Mark a dimension for broadcast join (map-side hash join, no
    shuffle of the big side)."""
    return DataFrame(F.broadcast(df.df))


def effective_scan_partitions(sdf, planned: int, needed: int) -> int:
    """Planned file-split count capped by the total parquet ROW-GROUP
    count. A byte-range split only yields rows if a row-group START
    falls inside it, so one 350 MB file written as 3 row groups scans
    as 3 non-empty tasks however many splits the planner cuts — and a
    gate reading ``rdd.getNumPartitions()`` (the PLANNED count) is
    fooled into skipping its repartition. This was the r9 q_synthesis
    100x find: the scaled corpus is one single-task-written file with
    3 row groups, the planned count (~32) sailed past the balance
    gate, and every beam-scoring pass ran on 3 of 32 cores (23.7x
    per-decade factor; 8.3x after the fix).

    Footer reads are driver-side metadata only (no job) and are
    skipped as soon as enough granularity is proven: when the file
    count alone reaches ``needed``, or the running row-group total
    does. Non-local / non-parquet sources fall back to the planned
    count (multi-task writers produce many files there anyway)."""
    if planned < needed:
        return planned
    try:
        files = sdf.inputFiles()
    except Exception:
        return planned
    if not files or len(files) >= needed:
        return planned
    try:
        from urllib.parse import urlparse

        import pyarrow.parquet as pq

        groups = 0
        for f in files:
            parsed = urlparse(f)
            if parsed.scheme not in ("", "file") or not f.endswith(".parquet"):
                return planned
            groups += pq.ParquetFile(parsed.path).metadata.num_row_groups
            if groups >= needed:
                return planned
        return min(planned, groups)
    except Exception:
        return planned


SCAN_MIN_FILL = 0.5  # ensure_scan_parallelism's gates (its docstring)
SCAN_MAX_BYTES = 1 << 30


def ensure_scan_parallelism(sdf):
    """Repartition a SMALL scan whose file-split count underuses the
    cores (a 5 MB single-row-group parquet file scans as ONE task, so
    every narrow map op downstream — tokenizing, hashing, shingling —
    runs single-threaded no matter how many cores exist).

    Strictly gated for scale honesty: no-op when the scan already
    yields >= SCAN_MIN_FILL x defaultParallelism splits (at 100 TB the
    files themselves provide parallelism) or when the plan-size
    estimate exceeds SCAN_MAX_BYTES (repartitioning a large input
    would shuffle the corpus to fix nothing). Takes/returns a plain
    pyspark DataFrame so operators can use it internally."""
    try:
        sc = sdf.sparkSession.sparkContext
        target = sc.defaultParallelism
        n_parts = sdf.rdd.getNumPartitions()
    except Exception:
        # Spark Connect: no sparkContext/rdd handle. AQE still fixes
        # post-shuffle parallelism; only the single-split-scan case
        # loses this hint, and guessing a repartition without the
        # split count would shuffle blindly.
        return sdf
    needed = max(2, int(target * SCAN_MIN_FILL))
    if effective_scan_partitions(sdf, n_parts, needed) >= needed:
        return sdf
    from .stats import plan_size_bytes

    if plan_size_bytes(sdf) > SCAN_MAX_BYTES:
        return sdf
    return sdf.repartition(target)


def repartition_by(df: DataFrame, cols: list[str], n: int | None = None) -> DataFrame:
    """Pre-align partitioning with downstream join/agg keys so
    consecutive stages reuse one exchange."""
    sdf = df.df.repartition(n, *cols) if n else df.df.repartition(*cols)
    return DataFrame(sdf)


def salt_skewed_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt: int = 16,
) -> DataFrame:
    """Inner join with key salting: the big side gets a random salt
    in [0, salt), the small side is replicated salt times, and the
    join key becomes (key, salt) — splitting a hot key across
    ``salt`` reducers. Use when one key dominates (power-law ids)."""
    b = big.df.withColumn("__salt", (F.rand(42) * salt).cast("int"))
    s = (
        small.df.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
    )
    joined = b.join(s, on=[on, "__salt"], how="inner").drop("__salt")
    return DataFrame(joined)


def salted_join(
    left: "DataFrame",
    right: "DataFrame",
    on: list[str],
    how: str = "inner",
    salt: int = 16,
):
    """Skew-safe equi-join: the left (large, skewed) side gets a
    uniform salt in [0, salt); the right side is replicated ``salt``
    times via a broadcast-range explode; the join runs on
    keys + salt, splitting each hot key across ``salt`` tasks.

    AQE's skew-join handles sort-merge skew adaptively; explicit
    salting is for when the skew is known up front (a hot join key
    in a power-law corpus), when the optimizer can't see it
    (post-shuffle intermediate), or for non-sort-merge strategies.
    The salt is derived from a hash of the row's OWN key columns plus
    a per-row monotonic component — deterministic under task retries
    would require content hashing, so we use spark_partition_id +
    monotonically_increasing_id modulo salt, which is disjoint and
    exhaustive within a single execution of the join (the only scope
    a join key ever has).

    Works on plain pyspark DataFrames.
    """
    from pyspark.sql import functions as F

    lf = left.df if hasattr(left, "df") else left
    rf = right.df if hasattr(right, "df") else right
    salted_l = lf.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt)).cast("int")
    )
    salted_r = rf.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = salted_l.join(salted_r, on=[*on, "__salt"], how=how)
    return out.drop("__salt")


def bloom_semi_join(
    probe,
    build,
    probe_keys: list[str],
    build_keys: list[str],
    m_bits: int = 1 << 20,
    k: int = 5,
):
    """Semi join with a Bloom pre-filter on the probe side — the
    runtime-filter pattern Spark applies automatically only in
    narrow cases (spark.sql.optimizer.runtimeFilter.*): build a
    ~m/8-byte Bloom over the build side's keys, broadcast it, and
    drop probe rows whose keys CANNOT match (bit-test fused into the
    probe scan) before the exact semi join sees them. Result is
    EXACTLY ``probe SEMI JOIN build`` — the Bloom has no false
    negatives, and the exact join removes its false positives — but
    the shuffle moves only the pre-filtered survivors: at 100 TB a
    probe side that is 95% non-matching pays 5% of the exchange.

    Accepts plain Spark DataFrames; key lists must be same-length.
    The build side is scanned twice (once for the filter, once for
    the exact join) — right when the build side is small relative to
    the probe shuffle saved, which is the only time a runtime filter
    is worth it at all."""
    if len(probe_keys) != len(build_keys):
        raise ValueError(
            f"key lists differ in length: {probe_keys} vs {build_keys}"
        )
    from ..operators.dedup import bloom_build, bloom_might_contain

    # hash on the PROBE-side column names: rename build keys to match
    # so both sides feed identical md5 inputs
    b = build.select(
        *[F.col(bk).alias(pk) for pk, bk in zip(probe_keys, build_keys)]
    )
    bloom = bloom_build(b, probe_keys, m_bits=m_bits, k=k)
    screened = (
        probe.crossJoin(F.broadcast(bloom))
        .where(bloom_might_contain(probe_keys, m_bits, k))
        .drop("__bloom")
    )
    cond = None
    for pk in probe_keys:
        # plain equality, NOT eqNullSafe: ANSI semi-join semantics —
        # null keys never match, mirroring SQL IN/EXISTS
        e = screened[pk] == b[pk]
        cond = e if cond is None else (cond & e)
    return screened.join(b, cond, "left_semi")
