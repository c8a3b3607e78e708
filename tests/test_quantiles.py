"""Distributed exact quantiles (operators/quantiles.py).

Reference analogue: Operations/Statistics.hs percentile/median — the
reference sorts one in-memory vector; ours is a sharded plan whose
results must match Spark's exact ``F.percentile`` bit-for-bit-ish.
"""

import math

import pytest
from pyspark.sql import functions as F

from dataframe_spark.operators.quantiles import (
    _radix_bin,
    exact_quantiles,
    exact_quantiles_wide,
)

PROBS = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0]


def _builtin(df, col, probs):
    row = df.agg(
        F.percentile(F.col(col).cast("double"), F.array(*[F.lit(p) for p in probs]))
    ).first()
    return list(row[0])


def _check(df, cols, probs):
    got = {
        (r["column_name"], r["prob"]): r["value"]
        for r in exact_quantiles(df, cols, probs).collect()
    }
    for c in cols:
        ref = _builtin(df, c, probs)
        for p, want in zip(probs, ref):
            have = got[(c, p)]
            assert have == pytest.approx(want, rel=1e-12, abs=1e-12), (c, p)


def test_matches_builtin_mixed_signs(spark):
    vals = [-1000.5, -3.25, -3.25, -0.001, 0.0, 0.0, 1e-12, 2.5, 2.5, 7.0, 1e9]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    _check(df, ["x"], PROBS)


def test_matches_builtin_with_nulls_and_duplicates(spark):
    vals = [1.0, None, 2.0, 2.0, None, 3.0, 100.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    _check(df, ["x"], PROBS)


def test_multi_column_lineitem(lineitem):
    _check(lineitem.df, ["l_quantity", "l_discount", "l_tax"], [0.25, 0.5, 0.75])


def test_wide_layout(lineitem):
    wide = exact_quantiles_wide(
        lineitem.df, ["l_quantity"], [0.25, 0.5, 0.75]
    ).collect()
    assert len(wide) == 1
    row = wide[0]
    ref = _builtin(lineitem.df, "l_quantity", [0.25, 0.5, 0.75])
    assert [row["q25"], row["q50"], row["q75"]] == pytest.approx(ref)


def test_summarize_distributed_matches_default(lineitem, monkeypatch):
    from dataframe_spark.operators import quantiles

    base = {r["column_name"]: r for r in lineitem.summarize().df.collect()}
    monkeypatch.setattr(quantiles, "QUANTILE_BUFFER_MAX_BYTES", 0)
    dist = {r["column_name"]: r for r in lineitem.summarize().df.collect()}
    assert set(base) == set(dist)
    for c, b in base.items():
        d = dist[c]
        for field in ("mean", "std", "min", "q25", "median", "q75", "max"):
            assert d[field] == pytest.approx(b[field], rel=1e-12), (c, field)


def test_radix_bin_monotone(spark):
    vals = [
        float("-inf"), -1e300, -5.0, -1.0 - 1e-9, -1.0, -1e-300, -0.0,
        0.0, 5e-324, 1e-300, 0.999, 1.0, 1.0 + 1e-9, 2.0, 1e308, float("inf"),
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    rows = (
        df.select("x", _radix_bin(F.col("x")).alias("b")).orderBy("x").collect()
    )
    bins = [r["b"] for r in rows]
    assert bins == sorted(bins)
    # NaN must land in the greatest bin (Spark sorts NaN last)
    nan_bin = (
        spark.createDataFrame([(float("nan"),)], "x double")
        .select(_radix_bin(F.col("x")).alias("b"))
        .first()["b"]
    )
    assert nan_bin > max(b for b, v in zip(bins, vals) if not math.isnan(v))


def test_grouped_quantiles_paths_agree_and_gate_engages(lineitem, monkeypatch):
    """Both per-group strategies produce identical rows, and the
    auto gate picks buffered below the threshold / radix above it
    (observable from the physical plan: the radix path has Window
    execs, the buffered path a `percentile` aggregate)."""
    from dataframe_spark.core import DataFrame
    from dataframe_spark.operators import quantiles

    grouped = DataFrame(lineitem.df).group_by(["l_returnflag"])
    monkeypatch.setattr(quantiles, "QUANTILE_BUFFER_MAX_BYTES", 1 << 63)
    small = grouped.quantiles("l_extendedprice", [0.25, 0.5, 0.9])
    monkeypatch.setattr(quantiles, "QUANTILE_BUFFER_MAX_BYTES", 0)
    big = grouped.quantiles("l_extendedprice", [0.25, 0.5, 0.9])
    monkeypatch.undo()
    # the gate patched to 0 engages the radix plan
    assert "Window" in big.df._jdf.queryExecution().executedPlan().toString()
    assert small.df.columns == big.df.columns
    k = lambda r: (r["l_returnflag"], r["prob"])
    s = {k(r): r["value"] for r in small.df.collect()}
    b = {k(r): r["value"] for r in big.df.collect()}
    assert set(s) == set(b)
    for key in s:
        assert s[key] == pytest.approx(b[key], rel=1e-12), key

    auto = grouped.quantiles("l_extendedprice", [0.5])
    plan = auto.df._jdf.queryExecution().executedPlan().toString()
    # sf0.001 fixture is far below the gate → buffered percentile path
    assert "percentile" in plan and "Window" not in plan


def test_winsorize_clips_to_quantile_band(lineitem):
    from dataframe_spark.operators.quantiles import winsorize

    out = winsorize(lineitem.df, "l_extendedprice", ["l_returnflag"], 0.1, 0.9)
    assert "l_extendedprice_winsorized" in out.columns
    # per group: clipped min/max equal the exact p10/p90
    ref = lineitem.df.groupBy("l_returnflag").agg(
        F.percentile(F.col("l_extendedprice").cast("double"),
                     F.array(F.lit(0.1), F.lit(0.9))).alias("q")
    ).collect()
    got = {
        r["l_returnflag"]: r
        for r in out.groupBy("l_returnflag").agg(
            F.min("l_extendedprice_winsorized").alias("lo"),
            F.max("l_extendedprice_winsorized").alias("hi"),
        ).collect()
    }
    for r in ref:
        g = got[r["l_returnflag"]]
        assert g["lo"] == pytest.approx(r["q"][0], rel=1e-12)
        assert g["hi"] == pytest.approx(r["q"][1], rel=1e-12)
    # row count unchanged (clip, not filter)
    assert out.count() == lineitem.df.count()


def test_grouped_exact_quantiles_match_builtin(lineitem):
    from dataframe_spark.operators.quantiles import exact_quantiles_grouped

    got = {
        (r["l_returnflag"], r["prob"]): r["value"]
        for r in exact_quantiles_grouped(
            lineitem.df, ["l_returnflag"], "l_extendedprice", [0.25, 0.5, 0.9]
        ).collect()
    }
    ref = lineitem.df.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.9))).alias("q")
    ).collect()
    for r in ref:
        for p, v in zip((0.25, 0.5, 0.9), r["q"]):
            assert got[(r["l_returnflag"], p)] == pytest.approx(v, rel=1e-12)


def test_quantile_bucket_equi_depth(lineitem):
    """Buckets are equi-depth within interpolation tolerance, nulls
    propagate, and the plan has no global-sort window."""
    from dataframe_spark.operators.quantiles import quantile_bucket

    out = quantile_bucket(lineitem.df, "l_extendedprice", 4)
    counts = {
        r["l_extendedprice_bucket"]: r["n"]
        for r in out.groupBy("l_extendedprice_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n = lineitem.df.count()
    assert set(counts) == {0, 1, 2, 3}
    for b, c in counts.items():
        assert abs(c - n / 4) <= n * 0.02 + 2, (b, c)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # no NTILE: assignment is a broadcast of the one-row bounds, and
    # any Window in the plan is the radix plan's bin-scoped cumsum
    # (partitioned), never an unpartitioned whole-table ordering
    assert "ntile" not in plan.lower()
    for spec in plan.split("windowspecdefinition(")[1:]:
        assert not spec.startswith("__v")  # always has partition keys first
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # sketch path agrees with exact path on bucket sizes within error
    approx = quantile_bucket(lineitem.df, "l_extendedprice", 4, rel_err=0.01)
    ac = {
        r["l_extendedprice_bucket"]: r["n"]
        for r in approx.groupBy("l_extendedprice_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for b in counts:
        assert abs(ac[b] - counts[b]) <= n * 0.05 + 2


def test_quantile_bucket_null_and_order(spark):
    from dataframe_spark.operators.quantiles import quantile_bucket

    df = spark.createDataFrame(
        [(float(i),) for i in range(100)] + [(None,)], "x double"
    )
    out = quantile_bucket(df, "x", 5, out_col="b").collect()
    by = {r["x"]: r["b"] for r in out}
    assert by[None] is None
    # monotone: larger value -> same or larger bucket
    xs = sorted(v for v in by if v is not None)
    bs = [by[v] for v in xs]
    assert bs == sorted(bs) and bs[0] == 0 and bs[-1] == 4


def test_winsorize_preserves_nulls_and_boundless_groups(spark, monkeypatch):
    """NULL values must stay NULL (greatest/least would collapse them
    to __lo) and a group whose values are ALL null has no quantile
    bounds — its rows must pass through unclipped, not be dropped
    (clip-not-filter contract)."""
    from dataframe_spark.operators import quantiles
    from dataframe_spark.operators.quantiles import winsorize

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 21)]
        + [("a", None), ("b", None), ("b", None)],
        "g string, x double",
    )
    # a list-built frame reads 2^63-1 plan bytes (plans/stats.py)
    monkeypatch.setattr(quantiles, "QUANTILE_BUFFER_MAX_BYTES", 1 << 63)
    out = winsorize(df, "x", ["g"], 0.1, 0.9)
    rows = out.collect()
    assert len(rows) == 23  # no rows dropped
    for r in rows:
        if r["x"] is None:
            assert r["x_winsorized"] is None
    b = [r for r in rows if r["g"] == "b"]
    assert len(b) == 2 and all(r["x_winsorized"] is None for r in b)


def test_exact_quantiles_duplicate_probs(spark):
    """Repeated probs must merge to one row with the correct value —
    the two-pass engine would otherwise double-count kept rows
    (review r5)."""
    from dataframe_spark.operators.quantiles import exact_quantiles

    df = spark.createDataFrame([(float(v),) for v in (1, 2, 3, 4)], "v double")
    rows = exact_quantiles(df, ["v"], [0.5, 0.5, 0.25]).collect()
    got = {r["prob"]: r["value"] for r in rows}
    assert len(rows) == 2
    assert got[0.5] == 2.5 and got[0.25] == 1.75
