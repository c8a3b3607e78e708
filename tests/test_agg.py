"""Aggregation/statistics tests (model: reference tests/Operations/
{Aggregations,GroupBy,Statistics}.hs)."""

import pytest
from pyspark.sql import functions as F

from dataframe_spark import expr as E


def test_group_aggregate(small):
    out = (
        small.filter_just("grp")
        .group_by(["grp"])
        .aggregate(n=E.count(F.lit(1)), total=E.sum_("val"))
    )
    rows = {r["grp"]: (r["n"], r["total"]) for r in out.collect()}
    assert rows["a"] == (2, 40.0)
    assert rows["b"] == (1, None)


def test_whole_table_aggregate(lineitem):
    out = lineitem.aggregate(
        n=E.count(F.lit(1)), avg_q=E.mean("l_quantity")
    ).collect()[0]
    assert out["n"] == 6000
    assert 20 < out["avg_q"] < 30


def test_value_counts_and_proportions(small):
    vc = {r["grp"]: r["count"] for r in small.value_counts("grp").collect()}
    assert vc["a"] == 2 and vc[None] == 1
    props = small.value_counts("grp", normalize=True)
    total = sum(r["proportion"] for r in props.collect())
    assert abs(total - 1.0) < 1e-9


def test_describe_columns(small):
    d = {r["column_name"]: r for r in small.describe_columns().collect()}
    assert d["val"]["nulls"] == 1
    assert d["val"]["non_null"] == 3
    assert d["grp"]["unique_values"] == 2  # nulls not counted as a distinct value
    assert d["id"]["type"] == "int"


def test_describe_columns_provenance(small):
    """derive/apply annotate their output with the defining
    expression (reference CHANGELOG 0.4.0.5); describe_columns
    surfaces it; source columns stay null."""
    d = small.derive("v2", F.col("val") * 2).apply(
        "v2", lambda c: c + 1
    )
    rows = {r["column_name"]: r for r in d.describe_columns().collect()}
    assert rows["val"]["derived_from"] is None
    prov = rows["v2"]["derived_from"]
    assert prov is not None and "+" in prov and "1" in prov
    # derive-only provenance carries the original expression text
    d2 = small.derive("dbl", F.col("val") * 2)
    rows2 = {r["column_name"]: r for r in d2.describe_columns().collect()}
    assert "val" in rows2["dbl"]["derived_from"]


def test_summarize(lineitem):
    s = {r["column_name"]: r for r in lineitem.summarize().collect()}
    q = s["l_quantity"]
    assert q["min"] == 1.0 and q["max"] == 50.0
    assert q["q25"] <= q["median"] <= q["q75"]


def test_median_percentile(lineitem):
    out = lineitem.aggregate(
        med=E.median("l_quantity"), p90=E.percentile(0.9, "l_quantity")
    ).collect()[0]
    assert out["med"] <= out["p90"]


def test_correlation_scalar(lineitem):
    r = lineitem.correlation("l_quantity", "l_extendedprice")
    assert -1.0 <= r <= 1.0


def test_rollup(lineitem):
    out = lineitem.rollup(["l_returnflag"], n=E.count(F.lit(1))).collect()
    total = [r for r in out if r["l_returnflag"] is None][0]
    assert total["n"] == 6000


def test_histogram_covers_all(lineitem):
    buckets = lineitem.histogram("l_quantity", 10).collect()
    assert sum(r["count"] for r in buckets) == 6000
    assert len(buckets) == 10


def test_histogram_constant_column(small):
    # zero-width range must not null out every bucket
    buckets = small.derive("k", F.lit(5.0)).histogram("k", 4).collect()
    assert len(buckets) == 1 and buckets[0]["bucket"] == 0
    assert buckets[0]["count"] == 4


def test_summarize_auto_cutover(lineitem, monkeypatch):
    from dataframe_spark.operators import quantiles

    li = lineitem.select(["l_quantity", "l_discount"])
    # small input → gate-bounded sorted-tails plan (hit-bin
    # collect_list arrays; still pure JVM since r8)
    default = li.summarize()
    plan = default.df._jdf.queryExecution().optimizedPlan().toString()
    assert "sort_array" in plan
    # above-threshold input → sharded exact-quantile plan engages
    # (bounded state: no collected bin arrays, no percentile buffer)
    monkeypatch.setattr(quantiles, "QUANTILE_BUFFER_MAX_BYTES", 0)
    dist = li.summarize()
    plan_d = dist.df._jdf.queryExecution().optimizedPlan().toString()
    assert "sort_array" not in plan_d
    assert "percentile" not in plan_d
    # both paths agree (exact quantiles, same interpolation)
    a = {r["column_name"]: r for r in default.collect()}
    b = {r["column_name"]: r for r in dist.collect()}
    for c in a:
        for s in ("mean", "std", "min", "q25", "median", "q75", "max"):
            assert a[c][s] == pytest.approx(b[c][s], rel=1e-9)


def test_summarize_bin_straddle(spark, monkeypatch):
    """The bracketing order statistics can land in two ADJACENT
    radix bins (jlo the last value of its bin, jhi the first of the
    next): [1.0, 2.0] puts the median's lo in bin(1.0) and hi in
    bin(2.0). Each hit row must extract only its in-range piece
    null-safely (a naive element_at would throw INVALID_INDEX_OF_
    ZERO on the out-of-range side) and merge to 1.5."""
    from dataframe_spark import DataFrame
    from dataframe_spark.operators import quantiles

    df = DataFrame(
        spark.createDataFrame([(1.0,), (2.0,)], "v double")
    )
    # a list-built frame reads 2^63-1 plan bytes (plans/stats.py)
    monkeypatch.setattr(quantiles, "QUANTILE_BUFFER_MAX_BYTES", 1 << 63)
    row = df.summarize().collect()[0]
    assert row["median"] == pytest.approx(1.5)
    assert row["q25"] == pytest.approx(1.25)
    assert row["q75"] == pytest.approx(1.75)
    # distributed engine agrees on the same straddle input
    monkeypatch.setattr(quantiles, "QUANTILE_BUFFER_MAX_BYTES", 0)
    row_d = df.summarize().collect()[0]
    for s in ("q25", "median", "q75", "mean", "min", "max"):
        assert row_d[s] == pytest.approx(row[s])


def test_impute_median_auto_cutover(small, monkeypatch):
    from dataframe_spark.operators import quantiles

    # a list-built frame reads 2^63-1 plan bytes (plans/stats.py)
    monkeypatch.setattr(quantiles, "QUANTILE_BUFFER_MAX_BYTES", 1 << 63)
    expected = sorted(
        r["val"] for r in small.impute(["val"], "median").collect()
    )
    monkeypatch.setattr(quantiles, "QUANTILE_BUFFER_MAX_BYTES", 0)
    got = sorted(r["val"] for r in small.impute(["val"], "median").collect())
    assert got == pytest.approx(expected)


def test_zscore(small):
    out = small.filter_just("val").z_score("val", "z")
    zs = [r["z"] for r in out.collect()]
    assert abs(sum(zs)) < 1e-9
    # scale guardrail: no empty-partition window in the plan
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_melt_pivot_roundtrip(small):
    long = small.filter_just("grp").melt(["id"], ["val"], "var", "v")
    assert set(long.column_names) == {"id", "var", "v"}
    assert long.n_rows() == 3
    wide = small.filter_just("grp").pivot(
        ["grp"], "grp", ["a", "b"], n=E.count(F.lit(1))
    )
    assert "a_n" in wide.column_names or "a" in wide.column_names


def test_grouped_apply_in_pandas(small):
    import pandas as pd

    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        pdf["val"] = pdf["val"] - pdf["val"].mean()
        return pdf

    out = (
        small.filter_just("val")
        .group_by(["grp"])
        .apply_in_pandas(center, "id int, grp string, val double")
    )
    vals = {r["id"]: r["val"] for r in out.collect()}
    assert vals[1] == -10.0 and vals[3] == 10.0


def test_approx_distinct_error_bound(spark):
    import random

    random.seed(7)
    rows = [(random.randrange(5000), random.randrange(50)) for _ in range(20000)]
    from dataframe_spark.core import DataFrame

    df = DataFrame(spark.createDataFrame(rows, "hi int, lo int"))
    approx = {
        r["column_name"]: r["approx_distinct"]
        for r in df.approx_distinct(["hi", "lo"], rsd=0.05).collect()
    }
    from pyspark.sql import functions as F

    exact = df.df.agg(
        F.countDistinct("hi").alias("hi"), F.countDistinct("lo").alias("lo")
    ).first()
    for c in ("hi", "lo"):
        assert abs(approx[c] - exact[c]) <= max(3, 0.15 * exact[c])


def test_freq_items_finds_heavy_hitter(spark):
    rows = [(1 if i % 3 else 99,) for i in range(3000)]
    from dataframe_spark.core import DataFrame

    df = DataFrame(spark.createDataFrame(rows, "k int"))
    out = df.freq_items(["k"], support=0.2).collect()[0]
    assert 1 in out["k_freqItems"]


def test_covariance(lineitem):
    import pytest as _pytest
    from pyspark.sql import functions as F

    got = lineitem.covariance("l_quantity", "l_extendedprice")
    want = lineitem.df.agg(
        F.covar_samp("l_quantity", "l_extendedprice")
    ).first()[0]
    assert got == _pytest.approx(want)
    pop = lineitem.covariance("l_quantity", "l_extendedprice", sample=False)
    assert pop != got


def test_approx_quantiles_within_rank_error(lineitem):
    """GK sketch guarantee: value at prob p has true rank within
    p*n ± rel_err*n."""
    probs = [0.25, 0.5, 0.75]
    out = {
        (r["column_name"], r["prob"]): r["value"]
        for r in lineitem.approx_quantiles(
            ["l_quantity", "l_extendedprice"], probs, rel_err=0.01
        ).collect()
    }
    n = lineitem.df.count()
    for c in ("l_quantity", "l_extendedprice"):
        vals = sorted(r[c] for r in lineitem.df.select(c).collect())
        for p in probs:
            v = out[(c, p)]
            import bisect

            rank = bisect.bisect_right(vals, v)
            assert abs(rank - p * n) <= 0.02 * n + 1, (c, p)


def test_chi_square_known_value(spark):
    """2x2 contingency with a hand-computable statistic."""
    from dataframe_spark import DataFrame

    # obs: (x,1)=30 (x,2)=10 / (y,1)=10 (y,2)=30 -> chi2 = 20.0, dof 1
    rows = (
        [("x", "1")] * 30 + [("x", "2")] * 10
        + [("y", "1")] * 10 + [("y", "2")] * 30
    )
    df = DataFrame(spark.createDataFrame(rows, "a string, b string"))
    r = df.chi_square("a", "b").df.collect()[0]
    assert r["dof"] == 1 and r["n"] == 80
    assert abs(r["chi2"] - 20.0) < 1e-9
    assert abs(r["cramers_v"] - 0.5) < 1e-9  # sqrt(20 / (80 * 1))


def test_chi_square_independent_is_zero(spark):
    from dataframe_spark import DataFrame

    rows = [("x", "1")] * 10 + [("x", "2")] * 10 + [("y", "1")] * 20 + [("y", "2")] * 20
    df = DataFrame(spark.createDataFrame(rows, "a string, b string"))
    r = df.chi_square("a", "b").df.collect()[0]
    assert abs(r["chi2"]) < 1e-9


def test_ks_identical_distributions_zero_and_disjoint_one(spark):
    from dataframe_spark import DataFrame

    same = [(float(i % 10), "a") for i in range(100)] + [
        (float(i % 10), "b") for i in range(100)
    ]
    df = DataFrame(spark.createDataFrame(same, "v double, g string"))
    r = df.ks_test("v", F.col("g"), "a", "b").df.collect()[0]
    assert r["ks"] == 0.0 and r["n_a"] == 100 and r["n_b"] == 100

    disjoint = [(float(i), "a") for i in range(50)] + [
        (float(i + 1000), "b") for i in range(50)
    ]
    df2 = DataFrame(spark.createDataFrame(disjoint, "v double, g string"))
    r2 = df2.ks_test("v", F.col("g"), "a", "b").df.collect()[0]
    assert r2["ks"] == 1.0


def test_ks_matches_scipy_formula_by_hand(spark):
    """Hand-computed ECDF max gap on a tiny sample."""
    from dataframe_spark import DataFrame

    # a = [1,2,3,4], b = [3,4,5,6]: max |ecdf gap| = 0.5 at v in {2, 4}
    rows = [(1.0, "a"), (2.0, "a"), (3.0, "a"), (4.0, "a"),
            (3.0, "b"), (4.0, "b"), (5.0, "b"), (6.0, "b")]
    df = DataFrame(spark.createDataFrame(rows, "v double, g string"))
    r = df.ks_test("v", F.col("g"), "a", "b").df.collect()[0]
    assert abs(r["ks"] - 0.5) < 1e-12
    assert r["n_values"] == 6


def test_mann_whitney_known_values(spark):
    from dataframe_spark import DataFrame

    # disjoint: a = 1..3 all below b = 4..6 -> U_a = 0, U_b = 9
    rows = [(1.0, "a"), (2.0, "a"), (3.0, "a"),
            (4.0, "b"), (5.0, "b"), (6.0, "b")]
    df = DataFrame(spark.createDataFrame(rows, "v double, g string"))
    r = df.mann_whitney_u("v", F.col("g"), "a", "b").df.collect()[0]
    assert r["u_a"] == 0.0 and r["u_b"] == 9.0 and r["z"] < 0

    # with ties: a=[1,2,2], b=[2,3] -> midranks 1, 3, 3 / 3, 5
    # R_a = 7 -> U_a = 7 - 6 = 1; U_b = 6 - 1 = 5
    rows2 = [(1.0, "a"), (2.0, "a"), (2.0, "a"), (2.0, "b"), (3.0, "b")]
    df2 = DataFrame(spark.createDataFrame(rows2, "v double, g string"))
    r2 = df2.mann_whitney_u("v", F.col("g"), "a", "b").df.collect()[0]
    assert abs(r2["u_a"] - 1.0) < 1e-9 and abs(r2["u_b"] - 5.0) < 1e-9


def test_mann_whitney_symmetric_identical(spark):
    from dataframe_spark import DataFrame

    rows = [(float(i % 7), "a") for i in range(70)] + [
        (float(i % 7), "b") for i in range(70)
    ]
    df = DataFrame(spark.createDataFrame(rows, "v double, g string"))
    r = df.mann_whitney_u("v", F.col("g"), "a", "b").df.collect()[0]
    assert abs(r["u_a"] - r["u_b"]) < 1e-9  # identical dists: U_a = U_b
    assert abs(r["z"]) < 1e-9


def test_psi_identical_zero_and_shift_positive(spark):
    from dataframe_spark import DataFrame

    same = [(float(i % 100), "a") for i in range(1000)] + [
        (float(i % 100), "b") for i in range(1000)
    ]
    df = DataFrame(spark.createDataFrame(same, "v double, g string"))
    r = df.psi("v", F.col("g"), "a", "b").df.collect()[0]
    assert abs(r["psi"]) < 1e-9 and r["n_a"] == 1000

    shifted = [(float(i % 100), "a") for i in range(1000)] + [
        (float(i % 100) + 50.0, "b") for i in range(1000)
    ]
    df2 = DataFrame(spark.createDataFrame(shifted, "v double, g string"))
    r2 = df2.psi("v", F.col("g"), "a", "b").df.collect()[0]
    assert r2["psi"] > 0.25  # a half-range shift is a major drift


def test_corr_matrix_long_form(spark):
    from dataframe_spark import DataFrame

    rows = [(float(i), float(2 * i), float(-i), 7.0) for i in range(20)]
    df = DataFrame(spark.createDataFrame(rows, "a double, b double, c double, d double"))
    got = {(r["col_a"], r["col_b"]): r["r"] for r in df.corr_matrix().df.collect()}
    assert len(got) == 6  # 4 choose 2
    assert abs(got[("a", "b")] - 1.0) < 1e-12
    assert abs(got[("a", "c")] + 1.0) < 1e-12
    assert got[("a", "d")] is None  # zero variance -> null, not error


def test_welch_t_known_values(spark):
    import math

    from dataframe_spark import DataFrame

    # a = [1..5] (mean 3, var 2.5), b = [11..15] (mean 13, var 2.5):
    # t = -10 / sqrt(1.0) = -10, Welch df = 8
    rows = [(float(i), "a") for i in range(1, 6)] + [
        (float(i), "b") for i in range(11, 16)
    ]
    df = DataFrame(spark.createDataFrame(rows, "v double, g string"))
    r = df.welch_t_test("v", F.col("g"), "a", "b").df.collect()[0]
    assert abs(r["t"] + 10.0) < 1e-9
    assert abs(r["df"] - 8.0) < 1e-9
    assert r["mean_a"] == 3.0 and r["mean_b"] == 13.0

    # identical populations -> t = 0
    same = [(float(i % 5), "a") for i in range(50)] + [
        (float(i % 5), "b") for i in range(50)
    ]
    df2 = DataFrame(spark.createDataFrame(same, "v double, g string"))
    r2 = df2.welch_t_test("v", F.col("g"), "a", "b").df.collect()[0]
    assert abs(r2["t"]) < 1e-9


def test_kaplan_meier_closed_form(spark):
    from dataframe_spark.core import DataFrame

    # textbook example: durations 1,2(censored),3,4 over 4 subjects
    rows = [(1, 1), (2, 0), (3, 1), (4, 1)]
    df = DataFrame(spark.createDataFrame(rows, "d int, e int"))
    km = {r["t"]: r for r in df.kaplan_meier("d", "e").collect()}
    # t=1: r=4, d=1 -> S=3/4; t=2: censored only, S unchanged;
    # t=3: r=2, d=1 -> S=3/8; t=4: r=1, d=1 -> S=0
    assert km[1]["n_risk"] == 4 and abs(km[1]["survival"] - 0.75) < 1e-12
    assert km[2]["n_event"] == 0 and abs(km[2]["survival"] - 0.75) < 1e-12
    assert km[3]["n_risk"] == 2 and abs(km[3]["survival"] - 0.375) < 1e-12
    # risk set empties: survival exactly 0, no ln(0) null-vanishing
    assert km[4]["n_risk"] == 1 and km[4]["survival"] == 0.0
    # ties at one duration: both events leave together
    rows2 = [(5, 1), (5, 1), (7, 0)]
    df2 = DataFrame(spark.createDataFrame(rows2, "d int, e int"))
    km2 = {r["t"]: r for r in df2.kaplan_meier("d", "e").collect()}
    assert km2[5]["n_event"] == 2 and abs(km2[5]["survival"] - 1 / 3) < 1e-12
    assert km2[7]["n_censored"] == 1 and abs(km2[7]["survival"] - 1 / 3) < 1e-12


def test_logrank_closed_form(spark):
    import math

    from dataframe_spark.core import DataFrame

    # identical survival in both groups: z ~ 0
    same = [(1, 1, 0), (2, 1, 0), (3, 1, 0), (1, 1, 1), (2, 1, 1), (3, 1, 1)]
    df = DataFrame(spark.createDataFrame(same, "d int, e int, g int"))
    r = df.logrank_test("d", "e", "g", 0, 1).df.first()
    assert r["observed_a"] == 3.0
    assert abs(r["observed_a"] - r["expected_a"]) < 1e-12
    assert abs(r["z"]) < 1e-9 and r["n_a"] == 3 and r["n_b"] == 3
    # hand-computed: a dies at 1, b at 2 (2 subjects)
    rows = [(1, 1, 0), (2, 1, 1)]
    df2 = DataFrame(spark.createDataFrame(rows, "d int, e int, g int"))
    r2 = df2.logrank_test("d", "e", "g", 0, 1).df.first()
    # t=1: r=2, ra=1, d=1 -> ea=0.5, var=0.25; t=2: ra=0 -> ea=0, var=0
    assert abs(r2["expected_a"] - 0.5) < 1e-12
    assert abs(r2["z"] - (1 - 0.5) / math.sqrt(0.25)) < 1e-12
    assert abs(r2["chi2"] - 1.0) < 1e-12
    # censored rows shrink risk sets without counting as events
    cens = [(1, 0, 0), (2, 1, 1)]
    df3 = DataFrame(spark.createDataFrame(cens, "d int, e int, g int"))
    r3 = df3.logrank_test("d", "e", "g", 0, 1).df.first()
    assert r3["observed_a"] == 0.0 and r3["expected_a"] == 0.0


def test_rmst_closed_form(spark):
    import pytest as _pytest

    from dataframe_spark.core import DataFrame

    # S: 1 on [0,1), 0.75 on [1,3), 0.375 on [3,4), 0 after 4
    rows = [(1, 1), (2, 0), (3, 1), (4, 1)]
    df = DataFrame(spark.createDataFrame(rows, "d int, e int"))
    r = df.restricted_mean_survival("d", "e", tau=10.0).df.first()
    want = 1 * 1 + 0.75 * 2 + 0.375 * 1  # survival 0 past t=4
    assert abs(r["rmst"] - want) < 1e-12
    # tau inside the curve truncates the integral
    r2 = df.restricted_mean_survival("d", "e", tau=2.0).df.first()
    assert abs(r2["rmst"] - (1 * 1 + 0.75 * 1)) < 1e-12
    # tau beyond the last time with nonzero survival adds the tail
    rows3 = [(1, 1), (2, 0)]  # S = 0.5 on [1,2), censored tail stays 0.5
    df3 = DataFrame(spark.createDataFrame(rows3, "d int, e int"))
    r3 = df3.restricted_mean_survival("d", "e", tau=5.0).df.first()
    assert abs(r3["rmst"] - (1 * 1 + 0.5 * 4)) < 1e-12
    with _pytest.raises(ValueError):
        df.restricted_mean_survival("d", "e", tau=0)


def test_spearman_closed_form(spark):
    from dataframe_spark.core import DataFrame

    # perfectly monotone but nonlinear: spearman 1, pearson < 1
    rows = [(float(i), float(i) ** 3) for i in range(1, 11)]
    df = DataFrame(spark.createDataFrame(rows, "a double, b double"))
    r = df.spearman_corr("a", "b").df.first()
    assert abs(r["spearman"] - 1.0) < 1e-12
    assert r["pearson"] < 1.0 and r["n"] == 10
    # anti-monotone: -1
    rows2 = [(float(i), float(-i)) for i in range(5)]
    df2 = DataFrame(spark.createDataFrame(rows2, "a double, b double"))
    assert abs(df2.spearman_corr("a", "b").df.first()["spearman"] + 1.0) < 1e-12
    # ties get midranks: scipy-checked value for this shape
    rows3 = [(1.0, 1.0), (1.0, 2.0), (2.0, 3.0), (3.0, 3.0)]
    df3 = DataFrame(spark.createDataFrame(rows3, "a double, b double"))
    got = df3.spearman_corr("a", "b").df.first()["spearman"]
    # midranks: a -> 1.5,1.5,3,4 ; b -> 1,2,3.5,3.5 ; corr = 0.888528...
    import math
    ra = [1.5, 1.5, 3.0, 4.0]
    rb = [1.0, 2.0, 3.5, 3.5]
    ma, mb = sum(ra) / 4, sum(rb) / 4
    num = sum((x - ma) * (y - mb) for x, y in zip(ra, rb))
    den = math.sqrt(sum((x - ma) ** 2 for x in ra)
                    * sum((y - mb) ** 2 for y in rb))
    assert abs(got - num / den) < 1e-12
    # null/NaN rows excluded pairwise-complete
    rows4 = rows + [(None, 1.0), (2.0, float("nan"))]
    df4 = DataFrame(spark.createDataFrame(rows4, "a double, b double"))
    assert df4.spearman_corr("a", "b").df.first()["n"] == 10


def test_summarize_query_rounds_like_duckdb(spark):
    """q_summarize's 4-place rounding follows DuckDB's ROUND on the
    binary double: 4.00055 (binary 4.000549999…) is 4.0005, not the
    4.0006 that F.round's decimal-string half-up gives; every value
    on a grid of exact-looking ties agrees with DuckDB."""
    import duckdb

    from dataframe_spark.queries.stats_q import _round_like_duckdb

    xs = [4.00055, -4.00055, 2.5e-5, 1234.56785] + [
        i / 1e5 + 5e-6 for i in range(0, 2_000_000, 997)
    ]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [
        r["r"]
        for r in df.select(_round_like_duckdb(F.col("x"), 4).alias("r")).collect()
    ]
    assert got[0] == 4.0005 and got[1] == -4.0005
    assert df.select(F.round("x", 4)).first()[0] == 4.0006  # the old rounding
    import pandas as pd

    pdf = pd.DataFrame({"x": xs})
    want = [r[0] for r in duckdb.connect().execute("SELECT ROUND(x, 4) FROM pdf").fetchall()]
    assert got == want
