"""Distributed EXACT quantiles (percentile_cont semantics).

Reference analogue: Operations/Statistics.hs:percentile/median and
summarize's quartiles (Statistics.hs:326) — the reference sorts a
single in-memory vector per column. Spark's built-in exact
``percentile`` aggregate instead accumulates a full value-count map
per (group × column) buffer and merges those maps serially on one
reducer — fine per-group, pathological for one-row global summaries
of wide tables, and memory-unbounded at 100 TB.

This module computes exact linear-interpolated quantiles as a pure
DataFrame plan that stays distributed end to end:

1. unpivot the requested columns to (name, value) rows;
2. reduce to distinct-value counts (all shuffles from here are
   bounded by the number of DISTINCT values, not rows);
3. assign each value a deterministic ORDER-PRESERVING radix bin
   (sign, clamped binary exponent, top mantissa bits — a static
   range partitioning that needs no boundary sampling, so every
   plan branch bins identically by construction);
4. per-(column, bin) window cumsums + per-bin offsets give global
   cumulative counts — windows only ever run inside one bin's
   distinct values, never "one partition per column";
5. for each requested prob, locate the two bracketing order
   statistics with a conditional-min aggregate and interpolate:
   pos = p·(n-1), v = v_lo + frac·(v_hi - v_lo)  — identical to
   Spark ``percentile`` / DuckDB ``quantile_cont``.

No collect(), no per-column jobs, no sampled partitioner whose
boundaries could drift between plan branches: one deterministic
plan regardless of column or prob count.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# sub-bins per binary octave: 64 caps a bin at ~1/64 of any one
# exponent band's values for smooth distributions
_SUB = 64
# |floor(64·log2|v|)| ≤ 64·1075 for every finite nonzero double
# (subnormals reach 2^-1074); clamp wide of that before the int cast
_MAG_CLAMP = 70000.0
_TOP = 200_000  # shift that keeps every finite bin id positive

# Input-size threshold (plan-estimated bytes) above which quantile
# verbs switch from the built-in ``F.percentile`` (full value-count
# map buffered and merged on ONE reducer) to the sharded exact plan
# in this module. The buffer's memory is bounded by the column's
# distinct values, for which scan size is the cheap proxy. Size it
# like a broadcast threshold: well under one executor's task memory
# (the value assumes >= 1 GiB per task slot).
QUANTILE_BUFFER_MAX_BYTES = 256 * 1024 * 1024

from ..expr import bq as _bt  # shared backtick-quoting helper


def quantile_buffer_fits(df: SparkDF) -> bool:
    """True when ``df``'s plan-size estimate (plans.stats; no job)
    is within QUANTILE_BUFFER_MAX_BYTES, i.e. a quantile verb over
    it may take the buffered small side. The one quantile gate."""
    from ..plans.stats import plan_size_bytes

    return plan_size_bytes(df) <= QUANTILE_BUFFER_MAX_BYTES


def grouped_quantiles_for(df: SparkDF):
    """:func:`grouped_quantiles_buffered` when ``df`` fits the gate,
    else :func:`exact_quantiles_grouped` (same signature and rows)."""
    if quantile_buffer_fits(df):
        return grouped_quantiles_buffered
    return exact_quantiles_grouped


def _radix_bin(v: Column) -> Column:
    """Deterministic monotonic bin id for a double: larger value ⇒
    larger (or equal) bin, at 64 sub-bins per binary octave —
    ``floor(64·log2|v|)``, sign-folded. NaN sorts last (Spark and
    DuckDB both order NaN greatest).

    ONE log2 + ONE floor per row: this expression is evaluated twice
    per row on the pass-2 join path (null-filter + project), so its
    cost is the per-row constant of the whole quantile scan — the
    earlier exponent+mantissa-bits form (4 log2, 2 pow) was ~40% of
    q_summarize's 10× wall. Monotonicity survives rounding: libm log
    is semi-monotonic and division/multiply by a positive constant
    and floor preserve order (ties merely merge adjacent bins)."""
    mag = F.floor(
        F.least(
            F.lit(_MAG_CLAMP),
            F.greatest(F.lit(-_MAG_CLAMP), F.log2(F.abs(v)) * _SUB),
        )
    ).cast("long")
    return (
        F.when(F.isnan(v), F.lit(1 << 40))
        .when(v == 0.0, F.lit(0))
        .when(v > 0.0, mag + _TOP)
        .otherwise(-(mag + _TOP))
    )


def _hit_bins(binned: SparkDF, keys: list[str], probs) -> SparkDF:
    """PASS 1 of both radix plans: per-(key, radix-bin) counts of
    ``binned`` (keys + ``__bin``), then per (key, prob) the bins
    holding the bracketing order statistics as (keys, __bin, __off,
    prob, __jlo, __jhi, __frac)."""
    # dedupe probs: a repeated prob would duplicate its hit rows and
    # double pass-2's per-value counts, shifting every order
    # statistic (the old engine merged duplicates in its final
    # groupBy and returned one row per distinct prob — keep that)
    probs = list(dict.fromkeys(float(p) for p in probs))

    # PASS 1: per-bin totals are small (#keys × #populated-bins rows)
    psums = binned.groupBy(*keys, "__bin").agg(F.count(F.lit(1)).alias("__s"))

    # ONE window pass yields both the exclusive prefix offset and the
    # key total (same partitioning, two frames — a single exchange),
    # then the probs attach by exploding a LITERAL array: the whole
    # side frame is scan → agg → window → explode with ZERO joins —
    # sequential side-plan stages were the dominant cost of the first
    # two-pass cut (each join added a serial AQE stage + re-scan).
    w_key = Window.partitionBy(*keys).orderBy("__bin")
    w_off = w_key.rowsBetween(Window.unboundedPreceding, -1)
    w_all = w_key.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = psums.select(
        *keys,
        "__bin",
        "__s",
        F.coalesce(F.sum("__s").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__s").over(w_all).alias("__n"),
    )

    # bin b holds 0-based index j  iff  __off < j+1 <= __off + __s.
    # The side frame carries both the target-bin ids and the order-
    # statistic indices: (keys, bin, off, prob, jlo, jhi, frac).
    pos = F.col("prob") * (F.col("__n") - 1).cast("double")
    j1 = F.floor(pos) + 1
    j2 = F.ceil(pos) + 1
    return (
        offsets.select(
            *keys,
            "__bin",
            "__s",
            "__off",
            "__n",
            F.explode(
                F.array(*[F.lit(float(p)) for p in probs])
            ).alias("prob"),
        )
        .where(
            ((j1 > F.col("__off")) & (j1 <= F.col("__off") + F.col("__s")))
            | ((j2 > F.col("__off")) & (j2 <= F.col("__off") + F.col("__s")))
        )
        .select(
            *keys,
            "__bin",
            "__off",
            "prob",
            F.floor(pos).alias("__jlo"),
            F.ceil(pos).alias("__jhi"),
            (pos - F.floor(pos)).alias("__frac"),
        )
    )


def _fused_join(
    binned: SparkDF, hit: SparkDF, key: str, broadcast: bool
) -> SparkDF:
    """``binned`` joined to ``hit`` on ONE fused long key
    ``key``·2^42 + bin (``key`` one small non-null int), exact by
    construction: a multi-column BroadcastHashJoin probe packs/hashes
    an UnsafeRow per input row (measured 3.7s vs 0.9s for the
    single-long LongHashedRelation probe on 48M rows). A hash key +
    residual equality does NOT work here — Catalyst pulls the
    residual equalities back into the join keys, recreating the slow
    multi-column probe."""
    fused = F.col(key).cast("long") * F.lit(1 << 42) + F.col("__bin")
    hit_r = hit.select(
        fused.alias("__k"), "__off", "prob", "__jlo", "__jhi", "__frac"
    )
    if broadcast:
        hit_r = F.broadcast(hit_r)
    return binned.withColumn("__k", fused).join(hit_r, "__k")


def _exact_quantiles_impl(
    long: SparkDF,
    keys: list[str],
    probs: Sequence[float],
    broadcast_sides: bool,
    fuse_int_key: bool = False,
) -> SparkDF:
    """Shared engine: ``long`` has ``keys`` + ``__v`` (double, no
    nulls); returns keys + (prob, value). ``broadcast_sides`` hints
    the per-bin side joins — right for a bounded key domain (one row
    per unpivoted column), wrong for arbitrary group keys, where AQE
    should pick the strategy from runtime sizes.

    Two-pass histogram-refine (the r5 rework of the one-pass
    distinct-count plan, whose (key, value) shuffle moved every row
    and cost 7× wall at 10× rows):

    - PASS 1 aggregates per-(key, radix-bin) COUNTS — map-side
      combined, so the shuffle is #keys × #populated-bins rows
      (thousands) regardless of data size — then locates, per
      (key, prob), the bin holding each bracketing order statistic
      from the bin prefix sums.
    - PASS 2 re-scans the source keeping ONLY rows in those target
      bins (a broadcast/AQE semi-join against ≤ 2·#probs bins per
      key) and finds the exact order statistics by per-value
      cumulative counts within the kept bins.

    Correctness of the final conditional-min does not depend on
    WHICH bins were kept: global cum(v) = bin offset + within-bin
    prefix is exact for every kept value, the true j-th order
    statistic is in a kept bin by construction, and it is the
    smallest value anywhere in the multiset with cum >= j+1."""
    binned = long.withColumn("__bin", _radix_bin(F.col("__v")))
    hit = _hit_bins(binned, keys, probs)
    # PASS 2: with ``fuse_int_key`` (the unpivot path — keys is one
    # small non-null int) the join runs on ONE fused long key
    # (``_fused_join``); arbitrary group keys keep the plain
    # multi-column join.
    if fuse_int_key:
        assert len(keys) == 1
        joined = _fused_join(binned, hit, keys[0], broadcast_sides)
    else:
        hit_r = hit
        if broadcast_sides:
            hit_r = F.broadcast(hit_r)
        joined = binned.withColumn(
            "__k", F.col("__bin")
        ).join(hit_r.withColumnRenamed("__bin", "__k"), [*keys, "__k"])

    # only target-bin rows survive this scan (each duplicated per
    # prob it serves, ≤ #probs); per-value counts and within-bin
    # windows are bin-bounded and per-prob disjoint
    counts = joined.groupBy(
        "__k", *keys, "prob", "__off", "__jlo", "__jhi", "__frac", "__v"
    ).agg(F.count(F.lit(1)).alias("__cnt"))
    w_cum = (
        Window.partitionBy(*keys, "prob", "__k")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = counts.withColumn(
        "__cum", F.col("__off") + F.sum("__cnt").over(w_cum)
    )

    # order statistic at 0-based index j = first value with cum >= j+1
    return (
        cum.groupBy(*keys, "prob", "__frac")
        .agg(
            F.min(
                F.when(F.col("__cum") >= F.col("__jlo") + 1, F.col("__v"))
            ).alias("__vlo"),
            F.min(
                F.when(F.col("__cum") >= F.col("__jhi") + 1, F.col("__v"))
            ).alias("__vhi"),
        )
        .select(
            *keys,
            "prob",
            (F.col("__vlo") + F.col("__frac") * (F.col("__vhi") - F.col("__vlo"))).alias(
                "value"
            ),
        )
    )


def exact_quantiles(
    df: SparkDF,
    cols: Sequence[str],
    probs: Sequence[float],
) -> SparkDF:
    """Exact quantiles for ``cols`` at ``probs``.

    Returns a long-format DataFrame (column_name, prob, value);
    nulls excluded per column, all-null columns absent.

    The unpivot keys on the column INDEX, not the name: every
    data-sized stage (bin agg, pass-2 probe, value agg, window)
    then hashes/compares one int instead of a string — measured 4x
    on the whole plan at 48M unpivoted rows. Names re-attach to the
    #cols×#probs result rows at the end.
    """
    stack_args = ", ".join(
        f"{i}, CAST({_bt(c)} AS DOUBLE)" for i, c in enumerate(cols)
    )
    long = df.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (__ci, __v)"
    ).where(F.col("__v").isNotNull())
    return _exact_quantiles_impl(
        long, ["__ci"], probs, broadcast_sides=True, fuse_int_key=True
    ).select(
        F.element_at(
            F.array(*[F.lit(c) for c in cols]), F.col("__ci") + 1
        ).alias("column_name"),
        "prob",
        "value",
    )


def exact_quantiles_tails(
    df: SparkDF,
    cols: Sequence[str],
    probs: Sequence[float],
    nparts: int = 12,
    merge_pieces: bool = True,
) -> SparkDF:
    """Gated-SMALL-input exact quantiles: (__ci, prob, value) with
    ``__ci`` the 0-based index into ``cols``; nulls and NaN
    excluded, all-null columns absent. Values are identical to
    :func:`exact_quantiles` (quantile_cont semantics).

    The scale engine (:func:`_exact_quantiles_impl`) keeps every
    stage bounded regardless of input size and pays in serial
    stages for it (pass-2's count agg → window → conditional-min
    chain). Below the plan-size gate the input itself is bounded,
    so pass 2 collapses to ONE agg: per hit (column, radix-bin),
    ``sort_array(collect_list(v))`` materializes the bin's sorted
    values (a bin is a ~1/64-octave slice of one column — small at
    any gated size) and the bracketing order statistics read out by
    index. With the r7 union-final everywhere (no broadcast-join
    tail) this took summarize's sf0.1 wall 0.82 s → 0.54 s over the
    two-Arrow-stage kernel it replaces, and the whole plan is JVM.

    ``coalesce(nparts)``: the gate already bounds the input, so
    fewer tasks = less dispatch latency (the measured floor of the
    pack path this replaces); coalesce never increases partition
    count, so narrow inputs are untouched.

    Straddle case: when ``jlo`` is the last index of its bin and
    ``jhi`` the first of the next populated bin, there are TWO hit
    rows per (column, prob). Each extracts its in-range piece with
    null-safe ``F.get`` (``element_at`` would throw INVALID_INDEX_
    OF_ZERO on the out-of-range side — and the driver may run under
    ANSI), and a tiny final agg merges the pieces. With
    ``merge_pieces=False`` the un-merged piece rows come back
    instead — (__ci, prob, __vlo, __vhi, __frac), ≤2 rows per
    (column, prob) — so a caller that already ends in a per-column
    agg (summarize's union-final) can fold the merge into it and
    skip this plan's last exchange."""
    src = df.coalesce(nparts)
    stack_args = ", ".join(
        f"{i}, CAST({_bt(c)} AS DOUBLE)" for i, c in enumerate(cols)
    )

    def stacked() -> SparkDF:
        return (
            src.selectExpr(f"stack({len(cols)}, {stack_args}) AS (__ci, __v)")
            .where(F.col("__v").isNotNull() & ~F.isnan(F.col("__v")))
            .withColumn("__bin", _radix_bin(F.col("__v")))
        )

    hit = _hit_bins(stacked(), ["__ci"], probs)
    # PASS 2: the fused-key join, then the sorted-tail agg instead of
    # the count/window/conditional-min chain.
    joined = _fused_join(stacked(), hit, "__ci", True)
    tails = joined.groupBy(
        "__ci", "prob", "__off", "__jlo", "__jhi", "__frac"
    ).agg(F.sort_array(F.collect_list("__v")).alias("__arr"))
    pieces = tails.select(
        "__ci",
        "prob",
        "__frac",
        F.get("__arr", (F.col("__jlo") - F.col("__off")).cast("int")).alias(
            "__vlo"
        ),
        F.get("__arr", (F.col("__jhi") - F.col("__off")).cast("int")).alias(
            "__vhi"
        ),
    )
    if not merge_pieces:
        return pieces
    return (
        pieces.groupBy("__ci", "prob")
        .agg(
            F.max("__vlo").alias("__vlo"),
            F.max("__vhi").alias("__vhi"),
            F.first("__frac").alias("__frac"),
        )
        .select(
            "__ci",
            "prob",
            (
                F.col("__vlo")
                + F.col("__frac") * (F.col("__vhi") - F.col("__vlo"))
            ).alias("value"),
        )
    )


def grouped_quantiles_buffered(
    df: SparkDF,
    group_cols: Sequence[str],
    value_col: str,
    probs: Sequence[float],
) -> SparkDF:
    """Small-input per-group quantiles via the built-in exact
    ``percentile`` aggregate — ONE buffer per group holding the
    group's value multiset. Below the plan-size gate this is ~10x
    cheaper than the sharded radix plan (one hash-agg stage instead
    of 5+); above it the buffer is the memory hazard the radix plan
    exists to avoid. Output schema and values are identical to
    :func:`exact_quantiles_grouped` (verified in tests)."""
    cc = F.col(value_col).cast("double")
    agg = df.groupBy(*group_cols).agg(
        F.percentile(cc, F.array(*[F.lit(float(p)) for p in probs])).alias("__qs")
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(float(p)).alias("prob"),
                F.get("__qs", i).alias("value"),
            )
            for i, p in enumerate(probs)
        ]
    )
    return (
        agg.select(*group_cols, F.explode(pairs).alias("__pv"))
        .select(
            *group_cols,
            F.col("__pv.prob").alias("prob"),
            F.col("__pv.value").alias("value"),
        )
        # all-null groups: percentile yields null; the radix plan
        # drops such groups (rows filtered pre-agg), so mirror that
        .where(F.col("value").isNotNull())
    )


def exact_quantiles_grouped(
    df: SparkDF,
    group_cols: Sequence[str],
    value_col: str,
    probs: Sequence[float],
) -> SparkDF:
    """Per-GROUP exact interpolated quantiles: (group..., prob, value).

    The scale answer to ``F.percentile(...).over/groupBy`` when groups
    are few and huge: the built-in buffers each group's entire value
    multiset on one reducer (3 groups at 100 TB = 3 executors doing
    all the work), while this shards every group across (group,
    radix-bin) — parallelism is #groups × #populated-bins regardless
    of skew. All side joins are left to AQE (group cardinality is
    unknown a priori)."""
    long = df.select(
        *group_cols, F.col(value_col).cast("double").alias("__v")
    ).where(F.col("__v").isNotNull())
    return _exact_quantiles_impl(
        long, list(group_cols), probs, broadcast_sides=False
    )


def winsorize(
    df: SparkDF,
    value_col: str,
    group_cols: Sequence[str],
    lower: float = 0.05,
    upper: float = 0.95,
) -> SparkDF:
    """Clip ``value_col`` into its per-group [lower, upper] quantile
    band (outlier treatment before training-statistics aggregation).
    Adds ``<value_col>_winsorized``; other columns pass through.

    The quantile bounds use the QUANTILE_BUFFER_MAX_BYTES gate
    (``grouped_quantiles_for``: buffered percentile small / sharded
    radix large) and join back as a BROADCAST side — the bounds
    frame is one row per (group) regardless of data size, so the
    clip is a map-side operation at any scale."""
    q = grouped_quantiles_for(df)(
        df, list(group_cols), value_col, [float(lower), float(upper)]
    )
    bounds = q.groupBy(*group_cols).agg(
        F.min(F.when(F.col("prob") == float(lower), F.col("value"))).alias("__lo"),
        F.max(F.when(F.col("prob") == float(upper), F.col("value"))).alias("__hi"),
    )
    v = F.col(value_col).cast("double")
    # greatest/least skip nulls: a NULL value would collapse to __lo,
    # and a group with no non-null values has no bounds row at all.
    # Null values stay NULL; boundless groups pass through unclipped
    # (clip-not-filter contract), hence the LEFT join + coalesce.
    clipped = F.when(
        v.isNull() | F.col("__lo").isNull(), v
    ).otherwise(F.least(F.greatest(v, F.col("__lo")), F.col("__hi")))
    return (
        df.join(F.broadcast(bounds), list(group_cols), "left")
        .withColumn(f"{value_col}_winsorized", clipped)
        .drop("__lo", "__hi")
    )


def quantile_bucket(
    df: SparkDF,
    value_col: str,
    n_buckets: int,
    out_col: str | None = None,
    rel_err: float | None = None,
) -> SparkDF:
    """Equi-depth discretization: assign each row the quantile bucket
    (0..n_buckets-1) of ``value_col`` — the feature-engineering twin
    of NTILE without NTILE's scale problem. A window NTILE is a
    GLOBAL sort with every row through one ordering; here the bucket
    BOUNDS are computed once (exact via the distributed radix plan,
    or Greenwald-Khanna sketch when ``rel_err`` is given), broadcast
    as one tiny row, and assignment is a pure map-side comparison —
    the same plan at any data size.

    Ties across a boundary all land in the lower bucket (stable,
    engine-portable); nulls stay null."""
    out_col = out_col or f"{value_col}_bucket"
    probs = [i / n_buckets for i in range(1, n_buckets)]
    v = F.col(value_col).cast("double")
    if rel_err is not None:
        acc = max(2, int(round(1.0 / max(rel_err, 1e-6))))
        bounds = df.agg(
            F.percentile_approx(
                v, F.array(*[F.lit(p) for p in probs]), F.lit(acc)
            ).alias("__cuts")
        )
    else:
        long = exact_quantiles(df, [value_col], probs)
        bounds = long.agg(
            F.array_sort(F.collect_list("value")).alias("__cuts")
        )
    bucket = F.aggregate(
        F.col("__cuts"),
        F.lit(0),
        lambda acc, cut: acc + F.when(v > cut, 1).otherwise(0),
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(out_col, F.when(v.isNull(), F.lit(None)).otherwise(bucket))
        .drop("__cuts")
    )


def exact_quantiles_wide(
    df: SparkDF,
    cols: Sequence[str],
    probs: Sequence[float],
    names: Sequence[str] | None = None,
) -> SparkDF:
    """Pivot of :func:`exact_quantiles`: one row per column, one
    output column per prob (named via ``names`` or ``q<pct>``)."""
    names = list(names) if names else [f"q{int(round(p * 100))}" for p in probs]
    long = exact_quantiles(df, cols, probs)
    aggs = [
        F.min(F.when(F.col("prob") == float(p), F.col("value"))).alias(nm)
        for p, nm in zip(probs, names)
    ]
    return long.groupBy("column_name").agg(*aggs)
