"""Feature scaling — the sklearn preprocessing triple re-expressed
as broadcast-stats plans (StandardScaler / MinMaxScaler /
RobustScaler). Beyond the reference surface (its nearest verb is
zScore, Functions.hs standardize), but the natural completion of the
feature-engineering family next to the encoders and quantile
bucketing.

Scale design: every scaler is (1) ONE hash-agg producing one tiny
stats row per group (or one global row), (2) a broadcast join back,
(3) a pure map-side arithmetic column — the same plan at any data
size; no window functions, no per-row Python.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F


def _joined_stats(df: SparkDF, stats: SparkDF, group_cols) -> SparkDF:
    if group_cols:
        return df.join(F.broadcast(stats), list(group_cols), "left")
    return df.crossJoin(F.broadcast(stats))


def standard_scale(
    df: SparkDF,
    value_col: str,
    group_cols: Sequence[str] | None = None,
    out_col: str | None = None,
) -> SparkDF:
    """(x - mean) / stddev per group (population std, ddof=0 — the
    sklearn StandardScaler convention). A zero-variance group scales
    to 0.0 rather than null/inf (sklearn's scale_=1 fallback); null
    values stay null; a group with no non-null values passes nulls
    through."""
    out_col = out_col or f"{value_col}_std"
    v = F.col(value_col).cast("double")
    # NaN-filtered moments (the minmax/plot_all_histograms lesson,
    # ADVICE r5): one NaN would otherwise poison avg/stddev into NaN
    # and silently NaN every scaled value in the group
    clean = F.when(~F.isnan(v), v)
    keys = list(group_cols or [])
    agg = [
        F.avg(clean).alias("__mu"),
        F.stddev_pop(clean).alias("__sd"),
    ]
    stats = df.groupBy(*keys).agg(*agg) if keys else df.agg(*agg)
    scaled = F.when(v.isNull() | F.col("__mu").isNull(), F.lit(None)).otherwise(
        F.when(F.col("__sd") == 0.0, F.lit(0.0)).otherwise(
            (v - F.col("__mu")) / F.col("__sd")
        )
    )
    return (
        _joined_stats(df, stats, keys)
        .withColumn(out_col, scaled)
        .drop("__mu", "__sd")
    )


def minmax_scale(
    df: SparkDF,
    value_col: str,
    group_cols: Sequence[str] | None = None,
    feature_range: tuple[float, float] = (0.0, 1.0),
    out_col: str | None = None,
) -> SparkDF:
    """(x - min) / (max - min), affinely mapped into
    ``feature_range`` per group (sklearn MinMaxScaler). A constant
    group maps to the range lower bound (sklearn's zero-range
    handling); nulls stay null. min/max skip NaN via conditional
    aggregates — NaN sorts greatest in Spark and would otherwise
    poison the extent (the plot_all_histograms lesson, ADVICE r5)."""
    lo_r, hi_r = float(feature_range[0]), float(feature_range[1])
    if not hi_r > lo_r:
        raise ValueError(f"feature_range must be increasing, got {feature_range}")
    out_col = out_col or f"{value_col}_minmax"
    v = F.col(value_col).cast("double")
    clean = F.when(~F.isnan(v), v)
    keys = list(group_cols or [])
    agg = [F.min(clean).alias("__lo"), F.max(clean).alias("__hi")]
    stats = df.groupBy(*keys).agg(*agg) if keys else df.agg(*agg)
    unit = F.when(
        F.col("__hi") == F.col("__lo"), F.lit(0.0)
    ).otherwise((v - F.col("__lo")) / (F.col("__hi") - F.col("__lo")))
    scaled = F.when(v.isNull() | F.col("__lo").isNull(), F.lit(None)).otherwise(
        unit * F.lit(hi_r - lo_r) + F.lit(lo_r)
    )
    return (
        _joined_stats(df, stats, keys)
        .withColumn(out_col, scaled)
        .drop("__lo", "__hi")
    )


def robust_scale(
    df: SparkDF,
    value_col: str,
    group_cols: Sequence[str] | None = None,
    lower: float = 0.25,
    upper: float = 0.75,
    out_col: str | None = None,
) -> SparkDF:
    """(x - median) / (q_upper - q_lower) per group (sklearn
    RobustScaler: centering on the median, scaling by the
    IQR — outlier-insensitive where mean/std are not). Quantiles are
    EXACT via winsorize's QUANTILE_BUFFER_MAX_BYTES gate (buffered
    percentile small / sharded two-pass radix large,
    operators/quantiles.py) and join back as one broadcast row per
    group. A zero-IQR group scales to 0.0; nulls stay null."""
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError(f"need 0 <= lower < upper <= 1, got {lower}, {upper}")
    out_col = out_col or f"{value_col}_robust"
    keys = list(group_cols or [])
    probs = sorted({float(lower), 0.5, float(upper)})
    from .quantiles import exact_quantiles, grouped_quantiles_for

    if keys:
        q = grouped_quantiles_for(df)(df, keys, value_col, probs)
    else:
        q = exact_quantiles(df, [value_col], probs)
    stats = q.groupBy(*keys).agg(
        F.min(F.when(F.col("prob") == float(lower), F.col("value"))).alias("__ql"),
        F.min(F.when(F.col("prob") == 0.5, F.col("value"))).alias("__md"),
        F.min(F.when(F.col("prob") == float(upper), F.col("value"))).alias("__qh"),
    )
    v = F.col(value_col).cast("double")
    scaled = F.when(v.isNull() | F.col("__md").isNull(), F.lit(None)).otherwise(
        F.when(F.col("__qh") == F.col("__ql"), F.lit(0.0)).otherwise(
            (v - F.col("__md")) / (F.col("__qh") - F.col("__ql"))
        )
    )
    return (
        _joined_stats(df, stats, keys)
        .withColumn(out_col, scaled)
        .drop("__ql", "__md", "__qh")
    )


# inverse-CDF thresholds for Poisson(1), capped at 8 (tail mass
# ~1e-5 folded into the cap) — shared verbatim by the DuckDB oracle
POISSON1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
]


def poisson1_from_uniform(u):
    """Poisson(1) draw from a uniform via the inverse CDF ladder —
    a pure nested CASE, identical on any engine."""
    expr = F.lit(len(POISSON1_CDF))
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        expr = F.when(u < POISSON1_CDF[k], k).otherwise(expr)
    return expr


def _bootstrap_arrow_kernel(group_names: Sequence[str], B: int):
    """mapInArrow partial-aggregation kernel for bootstrap_mean_se.
    Input batches: (group_cols..., __x double, __kb
    string = the \\x1f-joined key prefix of row_digest). Emits, per
    group value seen by the task, B rows (__b, partial sum(w_b*x),
    partial sum(w_b)) plus one __b = -1 row carrying the plain-mean
    partials (sum(x), count) — one corpus pass covers both the
    replicate sums and the plain mean.

    Bit-equivalence with the JVM expression reference
    (``_bootstrap_mean_se_jvm``; pinned by
    tests/test_ml.py::test_bootstrap_engines_agree and the weight
    unit test): md5 digest bytes read as big-endian uint32 words ==
    conv(substring(hex, 1+8j, 8), 16, 10); u = word / 2**32 is an
    exact float64 (division by a power of two); and
    np.searchsorted(CDF, u, side='right') == the poisson1 CASE
    ladder (smallest k with u < CDF[k], else 8). Per-term products
    w*x are IEEE-identical; only summation order differs from the
    JVM hash-agg, which the caller's rounding absorbs exactly as it
    already does between Spark partition layouts and the DuckDB
    oracle."""
    n_chunks = (B + 3) // 4
    cdf_vals = tuple(POISSON1_CDF)
    group_names = list(group_names)
    n_groups = len(group_names)

    def kernel(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        md5 = hashlib.md5
        cdf = np.asarray(cdf_vals)
        salts = [("\x1f%d" % c).encode() for c in range(n_chunks)]
        acc: dict = {}
        gtypes = None
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            if gtypes is None:
                gtypes = [batch.schema.field(i).type for i in range(n_groups)]
            x = batch.column(n_groups).to_numpy(zero_copy_only=False)
            kb = pc.cast(batch.column(n_groups + 1), pa.binary()).to_pylist()
            # ceil(B/4) digests per row; the md5 loop IS the task's
            # cost — everything after is vectorized numpy. One list
            # comprehension per chunk measured ~25% faster than the
            # row-major nested loop (fewer generator frames)
            u = np.hstack(
                [
                    np.frombuffer(
                        b"".join([md5(k + s).digest() for k in kb]),
                        dtype=">u4",
                    ).reshape(n, 4)
                    for s in salts
                ]
            )[:, :B].astype(np.float64)
            u /= 4294967296.0
            w = np.searchsorted(cdf, u, side="right").astype(np.float64)
            if n_groups == 0:
                codes = np.zeros(n, dtype=np.intp)
                uniq = [()]
            elif n_groups == 1 and batch.column(0).null_count == 0:
                # C-level factorize; null group values take the
                # generic path below (numpy would coerce a nullable
                # int column to float NaN and corrupt the value)
                import pandas as pd

                codes, uq = pd.factorize(
                    batch.column(0).to_numpy(zero_copy_only=False),
                    use_na_sentinel=False,
                )
                uniq = [(u,) for u in uq]
            else:
                cols = [
                    batch.column(i).to_pylist() for i in range(n_groups)
                ]
                idx: dict = {}
                codes = np.empty(n, dtype=np.intp)
                for i, kv in enumerate(zip(*cols)):
                    code = idx.get(kv)
                    if code is None:
                        code = len(idx)
                        idx[kv] = code
                    codes[i] = code
                uniq = list(idx)
            G = len(uniq)
            wx = w * x[:, None]
            swx = np.empty((G, B))
            sw = np.empty((G, B))
            for b in range(B):
                swx[:, b] = np.bincount(codes, weights=wx[:, b], minlength=G)
                sw[:, b] = np.bincount(codes, weights=w[:, b], minlength=G)
            sx = np.bincount(codes, weights=x, minlength=G)
            cnt = np.bincount(codes, minlength=G)
            for g, kv in enumerate(uniq):
                st = acc.get(kv)
                if st is None:
                    acc[kv] = [swx[g].copy(), sw[g].copy(), sx[g], cnt[g]]
                else:
                    st[0] += swx[g]
                    st[1] += sw[g]
                    st[2] += sx[g]
                    st[3] += cnt[g]
        if not acc:
            return
        out_g: list[list] = [[] for _ in range(n_groups)]
        bs: list[int] = []
        swxs: list[float] = []
        sws: list[float] = []
        for kv, (a_swx, a_sw, a_sx, a_n) in acc.items():
            for i in range(n_groups):
                out_g[i].extend([kv[i]] * (B + 1))
            bs.extend(range(B))
            bs.append(-1)
            swxs.extend(a_swx.tolist())
            swxs.append(float(a_sx))
            sws.extend(a_sw.tolist())
            sws.append(float(a_n))
        arrays = [
            pa.array(out_g[i], type=gtypes[i]) for i in range(n_groups)
        ]
        arrays += [
            pa.array(bs, type=pa.int32()),
            pa.array(swxs, type=pa.float64()),
            pa.array(sws, type=pa.float64()),
        ]
        names = group_names + ["__b", "__swx", "__sw"]
        yield pa.RecordBatch.from_arrays(arrays, names=names)

    return kernel


def bootstrap_mean_se(
    df: SparkDF,
    value_col: str,
    key_cols: Sequence[str],
    group_cols: Sequence[str] | None = None,
    n_replicates: int = 50,
) -> SparkDF:
    """Deterministic Poisson bootstrap of the mean (Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", Google 2012;
    the scalable bootstrap: resampling WITH replacement at 100 TB is
    impossible, but per-row Poisson(1) replicate weights are a
    one-pass map): every row gets, for each replicate b, a weight
    drawn from Poisson(1) via a portable md5 uniform — the SAME
    replicate weights on any engine, run, or retry. Returns one row
    per group: (group..., mean, se_boot, n, n_replicates), se_boot
    = stddev_samp of the replicate means.

    Weight scheme (r8): one md5 digest covers FOUR replicates —
    uniform b reads hex slice ``b % 4`` of md5(key_cols, b // 4)
    (text.row_digest / row_uniform_slice), so a row costs ceil(B/4)
    digests, not B.

    The whole per-row derivation — digests, uniforms, Poisson
    ladder, partial sums — runs as ONE mapInArrow kernel
    (``_bootstrap_arrow_kernel``; guide §4.2: hand whole batches to
    vectorized native code): hashlib computes the identical md5
    digests, the uniform is the digest's big-endian uint32 word
    (== conv(substring(hex),16,10), exact), the ladder is one
    np.searchsorted, and each task emits only #groups × (B+1)
    partial-sum rows, so the exchange is tiny and the plain mean
    rides the same single corpus pass. Measured r12 (guide §1): the
    pure-expression plan of the time (a 100-expression hash-agg)
    failed whole-stage codegen ("Code grows beyond 64 KB") and
    evaluated ~30M interpreted conv+CASE trees at sf0.1 — ~2.8-3.3 s,
    50-100x numpy's cost for the same arithmetic. Expressions survive
    only in the test reference ``_bootstrap_mean_se_jvm``: both draw
    the SAME weights from the SAME chunked digests, and equality is
    test-pinned (test_bootstrap_engines_agree). Null and NaN values
    are excluded like avg does."""
    if n_replicates < 2:
        raise ValueError(f"need >= 2 replicates, got {n_replicates}")
    if not key_cols:
        # ADVICE r12 #2: with zero key columns the kernel and the
        # expression reference would hash different byte strings
        # (md5(b"\x1f0") vs md5(b"0")) and draw DIFFERENT weights; a
        # row-identity key set is semantically required anyway, so
        # fail loudly
        raise ValueError("key_cols must name at least one column")
    B = int(n_replicates)
    keys = list(group_cols or [])
    v = F.col(value_col).cast("double")
    keyed = [
        F.coalesce(F.col(k).cast("string"), F.lit("\x00"))
        for k in key_cols
    ]
    src = df.where(v.isNotNull() & ~F.isnan(v)).select(
        *keys,
        v.alias("__x"),
        F.concat_ws("\x1f", *keyed).alias("__kb"),
    )
    gtypes = ", ".join(
        f"`{k}` {src.schema[k].dataType.simpleString()}" for k in keys
    )
    schema = (gtypes + ", " if gtypes else "") + (
        "__b int, __swx double, __sw double"
    )
    part = src.mapInArrow(_bootstrap_arrow_kernel(keys, B), schema)
    # Single lineage: one global merge of the per-task partials
    # (exchange keyed (keys, __b)), then ONE conditional agg per
    # key folds the replicate rows into se_boot and the __b = -1
    # row into mean/n — no self-join, so the kernel subtree
    # appears (and executes) exactly once in the plan
    tot = part.groupBy(*keys, "__b").agg(
        F.sum("__swx").alias("__swx"), F.sum("__sw").alias("__sw")
    )
    is_rep = (F.col("__b") >= 0) & (F.col("__sw") > 0)
    mb = F.when(is_rep, F.col("__swx") / F.col("__sw"))
    is_plain = F.col("__b") == -1
    out = tot.groupBy(*keys).agg(
        (
            F.max(F.when(is_plain, F.col("__swx")))
            / F.max(F.when(is_plain, F.col("__sw")))
        ).alias("mean"),
        F.max(F.when(is_plain, F.col("__sw")))
        .cast("long")
        .alias("n"),
        F.stddev_samp(mb).alias("se_boot"),
        F.count(mb).alias("n_replicates"),
    )
    return out.select(*keys, "mean", "n", "se_boot", "n_replicates")


def _bootstrap_mean_se_jvm(
    df: SparkDF,
    value_col: str,
    key_cols: Sequence[str],
    group_cols: Sequence[str] | None = None,
    n_replicates: int = 50,
) -> SparkDF:
    """Test reference for bootstrap_mean_se, on no product path: the
    same weights as pure Spark expressions (row_digest chunks →
    row_uniform_slice → the poisson1 CASE ladder), one exploded row
    per (row, replicate), then a groupBy per replicate."""
    from ..operators.text import row_digest, row_uniform_slice

    B = int(n_replicates)
    keys = list(group_cols or [])
    v = F.col(value_col).cast("double")
    src = df.where(v.isNotNull() & ~F.isnan(v)).select(
        *keys,
        v.alias("__x"),
        *[
            row_digest(key_cols, str(c)).alias(f"__h{c}")
            for c in range((B + 3) // 4)
        ],
    )

    def w(b):
        u = row_uniform_slice(F.col(f"__h{b // 4}"), b % 4)
        return poisson1_from_uniform(u).cast("double")

    rep = src.select(
        *keys,
        "__x",
        F.posexplode(F.array(*[w(b) for b in range(B)])).alias("__b", "__w"),
    )
    per_rep = (
        rep.select(*keys, "__b", (F.col("__w") * F.col("__x")).alias("__wx"),
                   F.col("__w"))
        .groupBy(*keys, "__b")
        .agg(F.sum("__wx").alias("__swx"), F.sum("__w").alias("__sw"))
        .where(F.col("__sw") > 0)
        .select(*keys, (F.col("__swx") / F.col("__sw")).alias("__mb"))
    )
    plain = (
        df.where(v.isNotNull() & ~F.isnan(v))
        .groupBy(*keys)
        .agg(F.avg(v).alias("mean"), F.count(F.lit(1)).alias("n"))
    )
    boot = per_rep.groupBy(*keys).agg(
        F.stddev_samp("__mb").alias("se_boot"),
        F.count(F.lit(1)).alias("n_replicates"),
    )
    if keys:
        return plain.join(boot, keys, "left")
    return plain.crossJoin(boot)


def mad_outliers(
    df: SparkDF,
    value_col: str,
    group_cols: Sequence[str] | None = None,
    k: float = 3.5,
    out_col: str | None = None,
) -> SparkDF:
    """Robust outlier FLAGGING by the MAD rule (Iglewicz & Hoaglin
    1993): a row is an outlier when |x − median| > k·1.4826·MAD,
    MAD = median(|x − median|) — the flag-not-clip counterpart of
    winsorize, immune to the masking that mean/std rules suffer
    (outliers inflate the std that is supposed to catch them).
    Appends boolean ``out_col`` (null values stay null; a zero-MAD
    group — over half the values identical — flags any deviation).

    Plan: TWO exact-quantile passes (median, then median of in-row
    absolute deviations against the broadcast medians), both on the
    side the QUANTILE_BUFFER_MAX_BYTES gate picks for ``df``, + one
    broadcast join back; assignment is map-side. The 1.4826 constant
    makes k·MAD comparable to k·sigma under normality."""
    out_col = out_col or f"{value_col}_outlier"
    keys = list(group_cols or [])
    from .quantiles import exact_quantiles, grouped_quantiles_for

    fn = grouped_quantiles_for(df)

    def _median_of(frame, col):
        if keys:
            q = fn(frame, keys, col, [0.5])
        else:
            q = exact_quantiles(frame, [col], [0.5]).select(
                F.col("value").alias("value")
            )
        return q.groupBy(*keys).agg(F.min("value").alias("__m"))

    v = F.col(value_col).cast("double")
    # NaN contract (the standard/minmax convention, ADVICE r6): NaN
    # sorts greatest in the quantile engine, so unfiltered NaNs shift
    # the median/MAD; exclude them from both passes and null the flag
    clean = df.where(v.isNull() | ~F.isnan(v))
    med = _median_of(clean, value_col)
    dev = _joined_stats(df, med.withColumnRenamed("__m", "__med"), keys)
    dev = dev.withColumn("__absdev", F.abs(v - F.col("__med")))
    mad = _median_of(
        dev.where(v.isNull() | ~F.isnan(v)), "__absdev"
    ).withColumnRenamed("__m", "__mad")
    flagged = _joined_stats(dev, mad, keys).withColumn(
        out_col,
        F.when(
            v.isNull() | F.isnan(v) | F.col("__med").isNull(), F.lit(None)
        ).otherwise(
            F.abs(v - F.col("__med"))
            > F.lit(float(k)) * 1.4826 * F.col("__mad")
        ),
    )
    return flagged.drop("__med", "__absdev", "__mad")
