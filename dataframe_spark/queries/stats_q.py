"""Statistics / aggregation queries (reference Operations/
{Statistics,Aggregation}.hs surface) with DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..core import DataFrame
from ..tables import load_table


def _t(spark, sf_dir, name) -> DataFrame:
    return DataFrame(load_table(spark, sf_dir, name))


def q_value_counts(spark, sf_dir):
    """One groupBy + broadcast total (was a counts ⋈ proportions
    equi-join: three scans, and a NULL category — kept by groupBy on
    both sides and by the oracle's GROUP BY — silently vanished in
    the join; review r5)."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.value_counts("event_type").df
    total = ev.df.agg(F.count(F.lit(1)).alias("__total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "event_type",
        "count",
        F.round(F.col("count") / F.col("__total"), 4).alias("proportion"),
    )


def q_describe(spark, sf_dir):
    out = _t(spark, sf_dir, "orders").describe_columns().df
    # timestamp_ntz vs timestamp depends on the reader session's
    # inferTimestampNTZ setting; normalize for a stable contract.
    # derived_from (r8 provenance metadata) is all-null on a raw
    # source table and engine-specific by nature — out of the
    # cross-engine contract.
    return out.drop("derived_from").withColumn(
        "type", F.regexp_replace("type", "timestamp_ntz", "timestamp")
    )


def _round_like_duckdb(c, digits: int):
    """DuckDB's ROUND(x, digits) on a double: round the binary value
    x·10^digits half away from zero, then divide. ``F.round(c,
    digits)`` rounds the double's shortest decimal string half-up
    instead, so 4.00055 (binary 4.000549999…) becomes 4.0006 where
    DuckDB gives 4.0005. The scaled product's decimal string keeps
    the side of .5 it lies on, so rounding it to 0 places agrees."""
    scale = F.lit(10.0**digits)
    return F.round(c * scale, 0) / scale


def q_summarize(spark, sf_dir):
    out = _t(spark, sf_dir, "lineitem").summarize()
    return out.apply_many(
        ["mean", "std", "min", "q25", "median", "q75", "max"],
        lambda c: _round_like_duckdb(c, 4),
    ).df


def q_stats_agg(spark, sf_dir):
    """Grouped dispersion stats. Uses F.percentile directly: with a
    HANDFUL of groups each buffer merges on its own reducer and the
    state is bounded by per-group distinct values; for few-huge-group
    or high-cardinality inputs the sharded radix plan is the scale
    path (q_group_quantiles / GroupedDataFrame.quantiles)."""
    li = _t(spark, sf_dir, "lineitem")
    # one percentile buffer per source column (array form) instead of
    # four independent buffers — each buffer holds the group's full
    # value multiset, so this is the dominant state/merge cost
    pep = F.percentile(
        "l_extendedprice", F.array(F.lit(0.9), F.lit(0.25), F.lit(0.75))
    )
    # the moments run in their own agg: percentile is a
    # TypedImperativeAggregate, and one imperative expression in an
    # agg list knocks ALL its siblings off the vectorized hash-agg
    # path (measured 1.0 s -> 0.75 s at sf0.1 for the split; both
    # aggs share the scan, the rejoin is 3 rows)
    dec = li.group_by(["l_returnflag"]).aggregate(
        sd=F.round(F.stddev_samp("l_extendedprice"), 4),
        var=F.round(F.var_samp("l_quantity"), 4),
        r=F.round(F.corr("l_quantity", "l_extendedprice"), 4),
    )
    imp = li.group_by(["l_returnflag"]).aggregate(
        p90=F.round(F.get(pep, 0), 4),
        med=F.round(F.percentile("l_quantity", F.lit(0.5)), 4),
        iqr=F.round(F.get(pep, 2) - F.get(pep, 1), 4),
    )
    return (
        dec.df.join(imp.df, "l_returnflag")
        .select("l_returnflag", "sd", "var", "p90", "med", "iqr", "r")
    )


def q_quantiles(spark, sf_dir):
    """Distributed exact quantiles (operators/quantiles.py) — the
    scale path summarize takes above QUANTILE_BUFFER_MAX_BYTES;
    parity-checked against DuckDB QUANTILE_CONT."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.quantiles(["l_quantity", "l_extendedprice"], [0.1, 0.5, 0.9]).df
    return out.select(
        "column_name",
        F.round("prob", 2).alias("prob"),
        F.round("value", 4).alias("value"),
    )


def q_group_quantiles(spark, sf_dir):
    """Per-group exact quantiles on the sharded radix-bin plan —
    the scale path for few-huge-groups percentiles (each group is
    parallelized over its value bins, not pinned to one reducer)."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.group_by(["l_returnflag"]).quantiles(
        "l_extendedprice", [0.25, 0.5, 0.9]
    )
    return out.df.select(
        "l_returnflag",
        F.round("prob", 2).alias("prob"),
        F.round("value", 4).alias("value"),
    )


def _group_quantiles_oracle() -> str:
    parts = []
    for p in (0.25, 0.5, 0.9):
        parts.append(
            f"""SELECT l_returnflag,
            CAST({p} AS DOUBLE) AS prob,
            ROUND(QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), {p}), 4) AS value
            FROM lineitem GROUP BY l_returnflag"""
        )
    return " UNION ALL ".join(parts)


def _quantiles_oracle() -> str:
    parts = []
    for c in ("l_quantity", "l_extendedprice"):
        for p in (0.1, 0.5, 0.9):
            parts.append(
                f"""SELECT '{c}' AS column_name,
                CAST({p} AS DOUBLE) AS prob,
                ROUND(QUANTILE_CONT(CAST({c} AS DOUBLE), {p}), 4) AS value
                FROM lineitem"""
            )
    return " UNION ALL ".join(parts)


def q_mode(spark, sf_dir):
    """Deterministic mode: argmax by (count desc, value asc) — the
    scale-safe formulation (plain agg + window, no sketch)."""
    li = _t(spark, sf_dir, "lineitem")
    counts = (
        li.group_by(["l_returnflag", "l_quantity"])
        .aggregate(n=F.count(F.lit(1)))
        .df
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("n").desc(), F.col("l_quantity").asc()
    )
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_qty"), "n")
    )


def q_collect_list(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    arr = F.sort_array(F.collect_list("l_linenumber"))
    return (
        li.filter_where(F.col("l_orderkey") < 200)
        .group_by(["l_orderkey"])
        .aggregate(
            n_items=F.size(arr),
            first_line=F.get(arr, 0),
            last_line=F.get(arr, F.size(arr) - 1),
        )
        .df
    )


def q_correlation(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.group_by(["o_orderstatus"])
        .aggregate(
            r=F.round(F.corr(F.col("o_totalprice"), F.col("o_custkey")), 4),
            n=F.count(F.lit(1)),
        )
        .df
    )


def q_chi_square(spark, sf_dir):
    """Chi-square independence of order status vs priority (one
    contingency shuffle; margins broadcast back)."""
    o = _t(spark, sf_dir, "orders")
    out = o.chi_square("o_orderstatus", "o_orderpriority").df
    return out.select(
        F.round("chi2", 4).alias("chi2"),
        "dof",
        "n",
        F.round("cramers_v", 6).alias("cramers_v"),
    )


def q_histogram(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").histogram("l_extendedprice", 10).df


def q_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup(
            ["l_returnflag", "l_linestatus"],
            sum_qty=F.round(F.sum("l_quantity"), 2),
            n=F.count(F.lit(1)),
        )
        .df
    )


_LINEITEM_NUM = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
]


def _summarize_oracle() -> str:
    parts = []
    for c in _LINEITEM_NUM:
        parts.append(
            f"""SELECT '{c}' AS column_name,
            ROUND(AVG(CAST({c} AS DOUBLE)), 4) AS mean,
            ROUND(STDDEV_SAMP(CAST({c} AS DOUBLE)), 4) AS std,
            ROUND(MIN(CAST({c} AS DOUBLE)), 4) AS min,
            ROUND(QUANTILE_CONT(CAST({c} AS DOUBLE), 0.25), 4) AS q25,
            ROUND(QUANTILE_CONT(CAST({c} AS DOUBLE), 0.5), 4) AS median,
            ROUND(QUANTILE_CONT(CAST({c} AS DOUBLE), 0.75), 4) AS q75,
            ROUND(MAX(CAST({c} AS DOUBLE)), 4) AS max
            FROM lineitem"""
        )
    return " UNION ALL ".join(parts)


_ORDERS_COLS = {
    "o_orderkey": "bigint",
    "o_custkey": "bigint",
    "o_orderstatus": "string",
    "o_totalprice": "double",
    "o_orderdate": "timestamp",
    "o_orderpriority": "string",
}


def _describe_oracle() -> str:
    parts = []
    for c, t in _ORDERS_COLS.items():
        parts.append(
            f"""SELECT '{c}' AS column_name,
            COUNT({c}) AS non_null,
            COUNT(*) - COUNT({c}) AS nulls,
            COUNT(DISTINCT {c}) AS unique_values,
            0 AS partially_parsed,
            '{t}' AS type
            FROM orders"""
        )
    return " UNION ALL ".join(parts)


def q_skewness(spark, sf_dir):
    """Skewness from explicit central moments (engines disagree on
    bias correction, so both sides compute the same formula:
    g1 = sqrt(n) * m3 / m2^1.5)."""
    li = _t(spark, sf_dir, "lineitem").df
    stats = li.groupBy("l_returnflag").agg(
        F.avg("l_quantity").alias("mu"),
        F.count(F.lit(1)).alias("n"),
    )
    j = li.join(F.broadcast(stats), "l_returnflag")
    d = F.col("l_quantity") - F.col("mu")
    return (
        j.groupBy("l_returnflag")
        .agg(
            F.round(
                F.sqrt(F.max("n"))
                * F.sum(d * d * d)
                / F.pow(F.sum(d * d), 1.5),
                4,
            ).alias("skew"),
            F.max("n").alias("n"),
        )
    )


def q_approx_distinct(spark, sf_dir):
    """Rows-only: HLL sketch values are engine-specific; the <= rsd
    error bound vs exact countDistinct is asserted in
    tests/test_agg.py."""
    li = _t(spark, sf_dir, "lineitem")
    return li.approx_distinct(
        ["l_orderkey", "l_partkey", "l_returnflag"], rsd=0.05
    ).df


def q_approx_distinct_check(spark, sf_dir):
    """Hard-signal invariant for the HLL++ sketch path (oracle-backed
    upgrade of rows-only q_approx_distinct): each column's
    approx_count_distinct must land within 3·rsd of the EXACT
    count — both computed in Spark, the exact side with the same
    one-pass agg shape. The sketch is deterministic for fixed data,
    so the boolean is a stable hard check; the oracle pins it."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_partkey", "l_returnflag"]
    approx = li.approx_distinct(cols, rsd=0.05).df
    exact_aggs = [
        F.countDistinct(F.col(c)).alias(f"__ex_{c}") for c in cols
    ]
    stack_args = ", ".join(f"'{c}', `__ex_{c}`" for c in cols)
    exact = li.df.agg(*exact_aggs).selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (column_name, __exact)"
    )
    rel_err = (
        F.abs(F.col("approx_distinct") - F.col("__exact"))
        / F.col("__exact").cast("double")
    )
    return (
        approx.join(F.broadcast(exact), "column_name")
        .select("column_name", (rel_err <= 0.15).alias("within_bounds"))
        .orderBy("column_name")
    )


def q_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival curve (core.py kaplan_meier, the
    two-sample prefix machinery with a = events / b = censored):
    per-user days from first activity to first PURCHASE, right-
    censored at last activity for users who never purchase — DuckDB
    re-derives risk sets, per-duration event counts, and the
    cumulative log-product survival."""
    ev = _t(spark, sf_dir, "events").df
    pu = (
        ev.where(F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("__first"),
            F.max("ts").alias("__last"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("__purch"),
        )
        .select(
            F.datediff(
                F.to_date(F.coalesce("__purch", "__last")),
                F.to_date("__first"),
            ).alias("duration"),
            F.col("__purch").isNotNull().cast("int").alias("event"),
        )
    )
    km = DataFrame(pu).kaplan_meier("duration", "event").df
    return km.select(
        F.col("t").cast("long").alias("t"),
        "n_risk",
        "n_event",
        "n_censored",
        F.round("survival", 6).alias("survival"),
    )


def q_logrank(spark, sf_dir):
    """Log-rank test (core.py logrank_test) comparing time-to-first-
    purchase survival between even and odd user cohorts — observed
    vs hypergeometric-expected events, DuckDB re-deriving risk sets
    and the full statistic."""
    ev = _t(spark, sf_dir, "events").df
    pu = (
        ev.where(F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("__first"),
            F.max("ts").alias("__last"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("__purch"),
        )
        .select(
            F.datediff(
                F.to_date(F.coalesce("__purch", "__last")),
                F.to_date("__first"),
            ).alias("duration"),
            F.col("__purch").isNotNull().cast("int").alias("event"),
            (F.col("user_id") % 2).cast("int").alias("grp"),
        )
    )
    res = DataFrame(pu).logrank_test("duration", "event", "grp", 0, 1).df
    return res.select(
        F.col("observed_a").cast("long").alias("observed_a"),
        F.round("expected_a", 4).alias("expected_a"),
        F.round("z", 4).alias("z"),
        F.round("chi2", 4).alias("chi2"),
        "n_a",
        "n_b",
    )


def _cox_frame(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").df
    return (
        ev.where(F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("__first"),
            F.max("ts").alias("__last"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("__purch"),
            F.count(F.lit(1)).alias("__n_ev"),
            F.avg("value").alias("avg_value"),
        )
        .select(
            F.datediff(
                F.to_date(F.coalesce("__purch", "__last")),
                F.to_date("__first"),
            ).alias("duration"),
            F.col("__purch").isNotNull().cast("int").alias("event"),
            F.log1p(F.col("__n_ev").cast("double")).alias("log_events"),
            "avg_value",
        )
    )


def q_cox_check(spark, sf_dir):
    """Hard-signal convergence invariant for Cox proportional
    hazards (the q_pca_check pattern — the fit is iterative, so the
    INVARIANTS are what cross-engine verification can pin): fit
    time-to-first-purchase on (log1p(events), avg value), then
    recompute the Breslow score and log-PL AT the fitted
    coefficients wholly in Spark — at a converged optimum the score
    is ~0 and the likelihood beats the beta = 0 baseline. n_rows /
    n_events are pinned by the oracle's own per-user recounts."""
    from ..ml.cox import cox_score_frame, fit_cox

    pu = _cox_frame(spark, sf_dir)
    m = fit_cox(
        pu, "duration", "event", ["log_events", "avg_value"], max_iter=20
    )
    sf = cox_score_frame(pu, "duration", "event", m)
    counts = pu.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event").cast("long").alias("n_events"),
    )
    return counts.crossJoin(F.broadcast(sf)).select(
        "n_rows",
        "n_events",
        F.lit(bool(m.converged)).alias("converged"),
        (
            (F.abs(F.col("g0")) < 1e-5) & (F.abs(F.col("g1")) < 1e-5)
        ).alias("score_zero_ok"),
        (F.col("logpl") > F.lit(float(m.baseline_logpl))).alias(
            "improved_ok"
        ),
    )


def q_rmst(spark, sf_dir):
    """Restricted mean survival time to 60 days (core.py
    restricted_mean_survival — the KM step integral): average
    purchase-free days over the first 60, on the same
    time-to-first-purchase setup as q_kaplan_meier."""
    ev = _t(spark, sf_dir, "events").df
    pu = (
        ev.where(F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("__first"),
            F.max("ts").alias("__last"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("__purch"),
        )
        .select(
            F.datediff(
                F.to_date(F.coalesce("__purch", "__last")),
                F.to_date("__first"),
            ).alias("duration"),
            F.col("__purch").isNotNull().cast("int").alias("event"),
        )
    )
    r = DataFrame(pu).restricted_mean_survival("duration", "event", 60.0).df
    return r.select(
        F.round("rmst", 6).alias("rmst"), "tau", "n_durations"
    )


def q_bootstrap(spark, sf_dir):
    """Deterministic Poisson-bootstrap SE of the per-returnflag mean
    price (operators/scale.py bootstrap_mean_se, B = 50): replicate
    weights are Poisson(1) draws from the portable md5 uniform over
    (orderkey, linenumber, b), so DuckDB redraws the IDENTICAL
    weights and reproduces every replicate mean."""
    from ..operators.scale import bootstrap_mean_se

    li = load_table(spark, sf_dir, "lineitem")
    out = bootstrap_mean_se(
        li,
        "l_extendedprice",
        ["l_orderkey", "l_linenumber"],
        ["l_returnflag"],
        n_replicates=50,
    )
    return out.select(
        "l_returnflag",
        F.round("mean", 2).alias("mean"),
        F.round("se_boot", 4).alias("se_boot"),
        "n",
        "n_replicates",
    )


def q_spearman(spark, sf_dir):
    """Spearman rank correlation of quantity vs price (core.py
    spearman_corr — per-value midranks from the partition-offset
    prefix pattern, no global sort), with Pearson alongside; DuckDB
    re-derives midranks with window RANK + tie counts."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.spearman_corr("l_quantity", "l_extendedprice").df
    return r.select(
        F.round("spearman", 4).alias("spearman"),
        F.round("pearson", 4).alias("pearson"),
        "n",
    )


QUERIES = {
    "q_spearman": q_spearman,
    "q_bootstrap": q_bootstrap,
    "q_kaplan_meier": q_kaplan_meier,
    "q_logrank": q_logrank,
    "q_cox_check": q_cox_check,
    "q_rmst": q_rmst,
    "q_approx_distinct": q_approx_distinct,
    "q_approx_distinct_check": q_approx_distinct_check,
    "q_skewness": q_skewness,
    "q_value_counts": q_value_counts,
    "q_describe": q_describe,
    "q_summarize": q_summarize,
    "q_quantiles": q_quantiles,
    "q_group_quantiles": q_group_quantiles,
    "q_stats_agg": q_stats_agg,
    "q_chi_square": q_chi_square,
    "q_mode": q_mode,
    "q_collect_list": q_collect_list,
    "q_correlation": q_correlation,
    "q_histogram": q_histogram,
    "q_rollup": q_rollup,
}

from ..operators.scale import POISSON1_CDF as _PCDF

_POIS_CASE = (
    "CASE "
    + " ".join(
        f"WHEN u < {c!r} THEN {k}" for k, c in enumerate(_PCDF)
    )
    + f" ELSE {len(_PCDF)} END"
)

ORACLES = {
    "q_spearman": """
        WITH src AS (
          SELECT CAST(l_quantity AS DOUBLE) AS a,
                 CAST(l_extendedprice AS DOUBLE) AS b
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        ), r AS (
          SELECT a, b,
                 RANK() OVER (ORDER BY a)
                 + (COUNT(*) OVER (PARTITION BY a) - 1) / 2.0 AS ra,
                 RANK() OVER (ORDER BY b)
                 + (COUNT(*) OVER (PARTITION BY b) - 1) / 2.0 AS rb
          FROM src
        )
        SELECT ROUND(CORR(ra, rb), 4) AS spearman,
               ROUND(CORR(a, b), 4) AS pearson,
               COUNT(*) AS n
        FROM r
    """,
    "q_bootstrap": f"""
        -- r8 chunked-digest weights: uniform b = hex slice (b % 4)
        -- of md5(orderkey, linenumber, b // 4) — mirrors
        -- text.row_digest / row_uniform_slice exactly
        WITH rep AS (
          SELECT l_returnflag,
                 CAST(l_extendedprice AS DOUBLE) AS x,
                 CAST('0x' || SUBSTR(MD5(CONCAT_WS(CHR(31),
                        CAST(l_orderkey AS VARCHAR),
                        CAST(l_linenumber AS VARCHAR),
                        CAST(b // 4 AS VARCHAR))),
                        1 + 8 * (b % 4), 8) AS BIGINT)
                   / 4294967296.0 AS u,
                 b
          FROM lineitem
          CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 49)) AS b)
          WHERE l_extendedprice IS NOT NULL
        ), weighted AS (
          SELECT l_returnflag, b,
                 SUM(({_POIS_CASE}) * x) AS swx,
                 SUM({_POIS_CASE}) AS sw
          FROM rep GROUP BY 1, 2
        ), means AS (
          SELECT l_returnflag, swx / sw AS mb
          FROM weighted WHERE sw > 0
        ), plain AS (
          SELECT l_returnflag,
                 ROUND(AVG(CAST(l_extendedprice AS DOUBLE)), 2) AS mean,
                 COUNT(*) AS n
          FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
        )
        SELECT p.l_returnflag, p.mean,
               ROUND(m.se, 4) AS se_boot, p.n, m.nb AS n_replicates
        FROM plain p JOIN (
          SELECT l_returnflag, STDDEV_SAMP(mb) AS se, COUNT(*) AS nb
          FROM means GROUP BY 1
        ) m USING (l_returnflag)
    """,
    "q_cox_check": """
        WITH pu AS (
          SELECT user_id,
                 MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p
          FROM events WHERE ts IS NOT NULL GROUP BY user_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_events,
               TRUE AS converged, TRUE AS score_zero_ok,
               TRUE AS improved_ok
        FROM pu
    """,
    "q_logrank": """
        WITH pu AS (
          SELECT user_id,
                 DATE_DIFF('day', CAST(MIN(ts) AS DATE),
                           CAST(COALESCE(
                             MIN(CASE WHEN event_type = 'purchase'
                                      THEN ts END),
                             MAX(ts)) AS DATE)) AS t,
                 CASE WHEN MIN(CASE WHEN event_type = 'purchase'
                                    THEN ts END) IS NOT NULL
                      THEN 1 ELSE 0 END AS ev,
                 CAST(user_id % 2 AS INT) AS grp
          FROM events WHERE ts IS NOT NULL GROUP BY user_id
        ), pv AS (
          SELECT t,
                 SUM(CASE WHEN grp = 0 AND ev = 1 THEN 1 ELSE 0 END) AS da,
                 SUM(CASE WHEN grp = 1 AND ev = 1 THEN 1 ELSE 0 END) AS db,
                 SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS na,
                 SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS nb
          FROM pu GROUP BY t
        ), cum AS (
          SELECT t, da, db, na, nb,
                 SUM(na) OVER (ORDER BY t) AS cna,
                 SUM(nb) OVER (ORDER BY t) AS cnb,
                 (SELECT SUM(na) FROM pv) AS ta,
                 (SELECT SUM(nb) FROM pv) AS tb
          FROM pv
        ), terms AS (
          SELECT t, da,
                 CAST(ta - cna + na AS DOUBLE) AS ra,
                 CAST(tb - cnb + nb AS DOUBLE) AS rb,
                 CAST(da + db AS DOUBLE) AS d,
                 ta, tb
          FROM cum
        ), scored AS (
          SELECT da,
                 d * ra / NULLIF(ra + rb, 0.0) AS ea,
                 d * (ra / NULLIF(ra + rb, 0.0))
                   * (rb / NULLIF(ra + rb, 0.0))
                   * (ra + rb - d) / NULLIF(ra + rb - 1.0, 0.0) AS va,
                 ta, tb
          FROM terms
        )
        SELECT CAST(SUM(da) AS BIGINT) AS observed_a,
               ROUND(SUM(COALESCE(ea, 0.0)), 4) AS expected_a,
               ROUND((SUM(da) - SUM(COALESCE(ea, 0.0)))
                     / NULLIF(SQRT(SUM(COALESCE(va, 0.0))), 0.0), 4) AS z,
               ROUND(POWER((SUM(da) - SUM(COALESCE(ea, 0.0)))
                     / NULLIF(SQRT(SUM(COALESCE(va, 0.0))), 0.0), 2), 4)
                 AS chi2,
               CAST(MAX(ta) AS BIGINT) AS n_a,
               CAST(MAX(tb) AS BIGINT) AS n_b
        FROM scored
    """,
    "q_rmst": """
        WITH pu AS (
          SELECT user_id,
                 DATE_DIFF('day', CAST(MIN(ts) AS DATE),
                           CAST(COALESCE(
                             MIN(CASE WHEN event_type = 'purchase'
                                      THEN ts END),
                             MAX(ts)) AS DATE)) AS t,
                 CASE WHEN MIN(CASE WHEN event_type = 'purchase'
                                    THEN ts END) IS NOT NULL
                      THEN 1 ELSE 0 END AS ev
          FROM events WHERE ts IS NOT NULL GROUP BY user_id
        ), pv AS (
          SELECT t, SUM(ev) AS d, SUM(1 - ev) AS c FROM pu GROUP BY t
        ), cum AS (
          SELECT t, d, c,
                 (SELECT COUNT(*) FROM pu)
                 - SUM(d + c) OVER (ORDER BY t) + (d + c) AS r
          FROM pv
        ), terms AS (
          SELECT t,
                 CASE WHEN d > 0 AND d < r
                      THEN LN((r - d) / CAST(r AS DOUBLE))
                      ELSE 0.0 END AS term,
                 CASE WHEN d >= r THEN 1 ELSE 0 END AS dead
          FROM cum
        ), km AS (
          SELECT t,
                 CASE WHEN SUM(dead) OVER (ORDER BY t) > 0 THEN 0.0
                      ELSE EXP(SUM(term) OVER (ORDER BY t)) END AS s
          FROM terms
        ), seg AS (
          SELECT CAST(t AS DOUBLE) AS t, s,
                 COALESCE(LAG(CAST(t AS DOUBLE)) OVER (ORDER BY t), 0.0)
                   AS pt,
                 COALESCE(LAG(s) OVER (ORDER BY t), 1.0) AS ps
          FROM km
        ), a AS (
          SELECT SUM(CASE WHEN pt < 60.0
                          THEN ps * (LEAST(t, 60.0) - pt)
                          ELSE 0.0 END) AS area,
                 ARG_MAX(s, t) AS last_s, MAX(t) AS last_t,
                 COUNT(*) AS nt
          FROM seg
        )
        SELECT ROUND(area + CASE WHEN last_t < 60.0
                                 THEN last_s * (60.0 - last_t)
                                 ELSE 0.0 END, 6) AS rmst,
               CAST(60.0 AS DOUBLE) AS tau,
               CAST(nt AS BIGINT) AS n_durations
        FROM a
    """,
    "q_kaplan_meier": """
        WITH pu AS (
          SELECT user_id,
                 DATE_DIFF('day', CAST(MIN(ts) AS DATE),
                           CAST(COALESCE(
                             MIN(CASE WHEN event_type = 'purchase'
                                      THEN ts END),
                             MAX(ts)) AS DATE)) AS t,
                 CASE WHEN MIN(CASE WHEN event_type = 'purchase'
                                    THEN ts END) IS NOT NULL
                      THEN 1 ELSE 0 END AS ev
          FROM events WHERE ts IS NOT NULL GROUP BY user_id
        ), pv AS (
          SELECT t, SUM(ev) AS d, SUM(1 - ev) AS c FROM pu GROUP BY t
        ), cum AS (
          SELECT t, d, c,
                 (SELECT COUNT(*) FROM pu)
                 - SUM(d + c) OVER (ORDER BY t) + (d + c) AS r
          FROM pv
        ), terms AS (
          SELECT t, d, c, r,
                 CASE WHEN d > 0 AND d < r
                      THEN LN((r - d) / CAST(r AS DOUBLE))
                      ELSE 0.0 END AS term,
                 CASE WHEN d >= r THEN 1 ELSE 0 END AS dead
          FROM cum
        )
        SELECT t,
               CAST(r AS BIGINT) AS n_risk,
               CAST(d AS BIGINT) AS n_event,
               CAST(c AS BIGINT) AS n_censored,
               ROUND(CASE WHEN SUM(dead) OVER (ORDER BY t) > 0 THEN 0.0
                          ELSE EXP(SUM(term) OVER (ORDER BY t)) END, 6)
                 AS survival
        FROM terms
    """,
    "q_approx_distinct_check": """
        SELECT column_name, TRUE AS within_bounds FROM (VALUES
          ('l_orderkey'), ('l_partkey'), ('l_returnflag')
        ) AS t(column_name)
        ORDER BY column_name
    """,
    "q_skewness": """
        WITH mu AS (
          SELECT l_returnflag, AVG(l_quantity) AS mu, COUNT(*) AS n
          FROM lineitem GROUP BY 1
        )
        SELECT l.l_returnflag,
          ROUND(SQRT(MAX(m.n))
                * SUM(POW(l.l_quantity - m.mu, 3))
                / POW(SUM(POW(l.l_quantity - m.mu, 2)), 1.5), 4) AS skew,
          MAX(m.n) AS n
        FROM lineitem l JOIN mu m USING (l_returnflag)
        GROUP BY 1
    """,
    "q_value_counts": """
        SELECT event_type, COUNT(*) AS count,
               ROUND(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM events), 4) AS proportion
        FROM events GROUP BY event_type
    """,
    "q_describe": _describe_oracle(),
    "q_summarize": _summarize_oracle(),
    "q_quantiles": _quantiles_oracle(),
    "q_group_quantiles": _group_quantiles_oracle(),
    "q_stats_agg": """
        SELECT l_returnflag,
          ROUND(STDDEV_SAMP(l_extendedprice), 4) AS sd,
          ROUND(VAR_SAMP(l_quantity), 4) AS var,
          ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 4) AS p90,
          ROUND(QUANTILE_CONT(l_quantity, 0.5), 4) AS med,
          ROUND(QUANTILE_CONT(l_extendedprice, 0.75) - QUANTILE_CONT(l_extendedprice, 0.25), 4) AS iqr,
          ROUND(CORR(l_quantity, l_extendedprice), 4) AS r
        FROM lineitem GROUP BY l_returnflag
    """,
    "q_chi_square": """
        WITH obs AS (
          SELECT o_orderstatus AS a, o_orderpriority AS b, COUNT(*) AS o
          FROM orders
          WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
          GROUP BY 1, 2
        ), rm AS (SELECT a, SUM(o) AS ra FROM obs GROUP BY a),
           cm AS (SELECT b, SUM(o) AS cb FROM obs GROUP BY b),
           tt AS (SELECT SUM(o) AS n FROM obs)
        SELECT ROUND(SUM(POW(o - ra * cb / n, 2) / (ra * cb / n)), 4) AS chi2,
               CAST((SELECT COUNT(DISTINCT a) - 1 FROM obs)
                    * (SELECT COUNT(DISTINCT b) - 1 FROM obs) AS BIGINT) AS dof,
               CAST(MAX(n) AS BIGINT) AS n,
               ROUND(SQRT(SUM(POW(o - ra * cb / n, 2) / (ra * cb / n))
                 / NULLIF(MAX(n) * LEAST(
                     (SELECT COUNT(DISTINCT a) - 1 FROM obs),
                     (SELECT COUNT(DISTINCT b) - 1 FROM obs)), 0)), 6)
                 AS cramers_v
        FROM obs JOIN rm USING (a) JOIN cm USING (b) CROSS JOIN tt
    """,
    "q_mode": """
        SELECT l_returnflag, l_quantity AS mode_qty, n FROM (
          SELECT l_returnflag, l_quantity, COUNT(*) AS n,
                 ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                    ORDER BY COUNT(*) DESC, l_quantity ASC) AS rn
          FROM lineitem GROUP BY l_returnflag, l_quantity
        ) WHERE rn = 1
    """,
    "q_collect_list": """
        SELECT l_orderkey,
               LEN(LIST_SORT(LIST(l_linenumber))) AS n_items,
               LIST_SORT(LIST(l_linenumber))[1] AS first_line,
               LIST_SORT(LIST(l_linenumber))[-1] AS last_line
        FROM lineitem WHERE l_orderkey < 200 GROUP BY l_orderkey
    """,
    "q_correlation": """
        SELECT o_orderstatus, ROUND(CORR(o_totalprice, o_custkey), 4) AS r,
               COUNT(*) AS n
        FROM orders GROUP BY o_orderstatus
    """,
    "q_histogram": """
        WITH rng AS (
          SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
          FROM lineitem
        )
        SELECT LEAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 10)), 9)::INT AS bucket,
               COUNT(*) AS count
        FROM lineitem, rng GROUP BY 1 ORDER BY 1
    """,
    "q_rollup": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
}
