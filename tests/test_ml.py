"""Decision-tree tests: separable data is learned exactly; the
compiled predict expression stays JVM-side."""

from pyspark.sql import functions as F

from dataframe_spark.ml import fit_decision_tree, tao_optimize, tree_to_expr


def _accuracy(df, tree, target="label"):
    n = df.count()
    wrong = (
        df.withColumn("p", tree_to_expr(tree))
        .where(~F.col("p").eqNullSafe(F.col(target)))
        .count()
    )
    return (n - wrong) / n


def _toy(spark):
    # label = 'hi' iff x > 10; y is noise
    rows = [(float(x), float(x % 7), "hi" if x > 10 else "lo") for x in range(1, 21)]
    return spark.createDataFrame(rows, "x double, y double, label string")


def test_fits_separable(spark):
    df = _toy(spark)
    tree = fit_decision_tree(df, "label", ["x", "y"], max_depth=2)
    assert not tree.is_leaf
    assert tree.feature == "x"
    pred = df.withColumn("p", tree_to_expr(tree))
    wrong = pred.where(F.col("p") != F.col("label")).count()
    assert wrong == 0


def test_pure_leaf_stops(spark):
    df = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (3.0, "a")], "x double, label string"
    )
    tree = fit_decision_tree(df, "label", ["x"], max_depth=3)
    assert tree.is_leaf
    assert tree.prediction == "a"


def test_depth_zero_is_majority(spark):
    df = _toy(spark)
    tree = fit_decision_tree(df, "label", ["x"], max_depth=0)
    assert tree.is_leaf
    assert tree.prediction == "lo"  # 10 lo vs 10 hi -> tie-break by repr


def test_predict_expression_is_jvm_only(spark):
    df = _toy(spark)
    tree = fit_decision_tree(df, "label", max_depth=2)
    plan = (
        df.withColumn("p", tree_to_expr(tree))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan


def test_deterministic_fit(spark):
    df = _toy(spark)
    t1 = fit_decision_tree(df, "label", max_depth=2)
    t2 = fit_decision_tree(df, "label", max_depth=2)
    assert (t1.feature, t1.threshold) == (t2.feature, t2.threshold)


def test_tao_repairs_suboptimal_tree(spark):
    """TAO re-optimization over a fixed structure: start from a
    hand-built BAD tree (wrong root threshold + wrong leaf labels)
    on XOR-quadrant data the structure CAN solve, and assert the
    pass recovers a perfect classifier (reference taoOptimize,
    DecisionTree.hs:125)."""
    from dataframe_spark.ml.decision_tree import Tree

    rows = (
        [(0.5, 0.5, "A")] * 40
        + [(1.5, 0.5, "B")] * 30
        + [(0.5, 1.5, "B")] * 30
        + [(1.5, 1.5, "A")] * 10
    )
    df = spark.createDataFrame(rows, "x double, y double, label string")
    bad = Tree(
        feature="x",
        threshold=1.9,  # routes everything left
        left=Tree(
            feature="y",
            threshold=0.1,  # routes everything right
            left=Tree(prediction="A"),
            right=Tree(prediction="B"),
        ),
        right=Tree(
            feature="y",
            threshold=1.9,
            left=Tree(prediction="B"),
            right=Tree(prediction="A"),
        ),
    )
    assert _accuracy(df, bad) < 0.6
    fixed = tao_optimize(
        df, "label", ["x", "y"], bad, percentiles=(10, 50, 90),
        global_mids={"x": [1.0], "y": [1.0]},
    )
    assert _accuracy(df, fixed) == 1.0


def test_tao_preserves_input_and_handles_aliasing(spark):
    """tao_optimize must not mutate the caller's tree (clone on
    entry) and must treat a Tree object reused in two positions as
    two distinct nodes (review r6)."""
    from dataframe_spark.ml.decision_tree import Tree, tree_to_expr

    rows = [(0.5, "A")] * 6 + [(1.5, "B")] * 4
    df = spark.createDataFrame(rows, "x double, label string")
    shared = Tree(prediction="B")
    bad = Tree(
        feature="x",
        threshold=2.0,
        left=shared,
        right=shared,  # aliased node in two positions
    )
    before = (bad.feature, bad.threshold, bad.left.prediction)
    fixed = tao_optimize(df, "label", ["x"], bad, percentiles=(50,),
                         global_mids={"x": [1.0]})
    assert (bad.feature, bad.threshold, bad.left.prediction) == before
    assert fixed is not bad
    assert _accuracy(df, fixed) >= _accuracy(df, bad)


def test_drop_last_nested_map_column(spark):
    """The salt hash must skip columns with MAP anywhere in the type
    (xxhash64 rejects nested maps too — review r6)."""
    from dataframe_spark.core import DataFrame

    df = DataFrame(
        spark.createDataFrame(
            [(1, [{"a": 1}]), (2, [{"b": 2}]), (3, [{"c": 3}])],
            "x int, m array<map<string,int>>",
        )
    )
    out = df.drop_last(1, order_by="x").collect()
    assert [r["x"] for r in out] == [1, 2]


def test_tao_never_degrades_greedy(spark):
    """fit_decision_tree's TAO pass must end at least as accurate as
    the pure greedy tree on the same data (loss-non-increasing: each
    node's current condition stays in its candidate set)."""
    df = _toy(spark)
    greedy = fit_decision_tree(df, "label", ["x", "y"], max_depth=2,
                               tao_iterations=0)
    tao = fit_decision_tree(df, "label", ["x", "y"], max_depth=2)
    assert _accuracy(df, tao) >= _accuracy(df, greedy)
    assert _accuracy(df, tao) == 1.0


# --- logistic regression ----------------------------------------------


def test_logreg_separable_perfect(spark):
    from dataframe_spark.ml import fit_logistic_regression, predict_expr

    rows = [(float(a), float(b), 1 if 2 * a - b > 0 else 0)
            for a in range(-5, 6) for b in range(-5, 6) if 2 * a != b]
    df = spark.createDataFrame(rows, "a double, b double, y int")
    m = fit_logistic_regression(df, "y", ["a", "b"], iters=80)
    acc = (
        df.select((predict_expr(m) == F.col("y")).cast("int").alias("ok"))
        .agg(F.avg("ok"))
        .collect()[0][0]
    )
    assert acc == 1.0
    # separating direction recovered: w_a > 0 > w_b
    assert m.weights[0] > 0 > m.weights[1]
    assert m.final_loss < 0.3


def test_logreg_proba_bounds_and_null_drop(spark):
    from dataframe_spark.ml import fit_logistic_regression, predict_proba_expr

    df = spark.createDataFrame(
        [(1.0, 1), (2.0, 1), (-1.0, 0), (-2.0, 0), (None, 1)],
        "x double, y int",
    )
    m = fit_logistic_regression(df, "y", ["x"], iters=30)
    assert m.n_rows == 4  # null row dropped
    ps = [r["p"] for r in df.dropna().select(predict_proba_expr(m).alias("p")).collect()]
    assert all(0.0 <= p <= 1.0 for p in ps)


def test_logreg_zero_variance_feature_guarded(spark):
    from dataframe_spark.ml import fit_logistic_regression

    df = spark.createDataFrame(
        [(1.0, 7.0, 1), (2.0, 7.0, 1), (-1.0, 7.0, 0), (-2.0, 7.0, 0)],
        "x double, c double, y int",
    )
    m = fit_logistic_regression(df, "y", ["x", "c"], iters=40)
    assert all(w == w for w in m.weights)  # no NaN from std=0


def test_logreg_nan_rows_excluded(spark):
    """NaN features must be dropped like nulls — one NaN otherwise
    poisons every aggregation pass into an all-NaN model whose
    predictions silently go all-1."""
    from dataframe_spark.ml import fit_logistic_regression, predict_expr

    df = spark.createDataFrame(
        [(1.0, 1), (2.0, 1), (-1.0, 0), (-2.0, 0), (float("nan"), 0)],
        "x double, y int",
    )
    m = fit_logistic_regression(df, "y", ["x"], iters=40)
    assert m.n_rows == 4
    assert all(w == w for w in m.weights) and m.intercept == m.intercept
    preds = [
        r["p"]
        for r in df.where("NOT isnan(x)").select(predict_expr(m).alias("p")).collect()
    ]
    assert preds == [1, 1, 0, 0]


def test_logreg_error_patience_early_stop(spark):
    from dataframe_spark.ml import fit_logistic_regression, predict_expr

    rows = [(float(a), float(b), 1 if 2 * a - b > 0 else 0)
            for a in range(-5, 6) for b in range(-5, 6) if 2 * a != b]
    df = spark.createDataFrame(rows, "a double, b double, y int")
    fast = fit_logistic_regression(
        df, "y", ["a", "b"], iters=80, error_patience=5
    )
    # boundary stabilizes early on separable data -> far fewer passes
    assert fast.n_iters < 80
    acc = (
        df.select((predict_expr(fast) == F.col("y")).cast("int").alias("ok"))
        .agg(F.avg("ok"))
        .collect()[0][0]
    )
    assert acc == 1.0
    # disabled path still runs the full fixed iteration count
    full = fit_logistic_regression(df, "y", ["a", "b"], iters=12)
    assert full.n_iters == 12


def test_naive_bayes_separable_and_priors(spark):
    from pyspark.sql import functions as F

    from dataframe_spark.ml import fit_naive_bayes, predict_naive_bayes

    rows = (
        [(i, "sport", "goal match team score win") for i in range(40)]
        + [(100 + i, "tech", "code bug compile server deploy") for i in range(20)]
        + [(200, None, "goal code")]  # null label: excluded from training
    )
    df = spark.createDataFrame(rows, "id long, y string, text string")
    m = fit_naive_bayes(df, "y", "text", top_v=100)
    assert m.classes == ["sport", "tech"]
    pred = predict_naive_bayes(df, "id", "text", m)
    got = {r["id"]: r["predicted"] for r in pred.collect()}
    assert all(got[i] == "sport" for i in range(40))
    assert all(got[100 + i] == "tech" for i in range(20))
    # the mixed doc leans on priors + shared evidence, never null
    assert got[200] in {"sport", "tech"}
    # margins positive on separable docs
    margs = {r["id"]: r["margin"] for r in pred.collect()}
    assert margs[0] > 1 and margs[100] > 1


def test_naive_bayes_margin_abstention_and_ties(spark):
    from dataframe_spark.ml import fit_naive_bayes, predict_naive_bayes

    # perfectly symmetric classes: the crossover doc must tie
    rows = (
        [(i, "a", "left left left") for i in range(10)]
        + [(100 + i, "b", "right right right") for i in range(10)]
        + [(500, "a", "left right")]  # symmetric evidence, equal priors
    )
    df = spark.createDataFrame(rows, "id long, y string, text string")
    m = fit_naive_bayes(df.where("id < 500"), "y", "text", top_v=100)
    pred = {r["id"]: r for r in predict_naive_bayes(
        df, "id", "text", m, margin=1e-3).collect()}
    # tie -> margin 0 -> abstain under the gate
    assert pred[500]["margin"] == 0.0 and pred[500]["predicted"] is None
    # decisive docs still predict
    assert pred[0]["predicted"] == "a" and pred[100]["predicted"] == "b"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        fit_naive_bayes(df.where("y is null"), "y", "text")


def test_naive_bayes_inrow_and_join_paths_agree(spark):
    """The small-vocab in-row map scorer and the large-vocab
    explode/join scorer must produce identical (predicted, margin)
    on the same model — exercised on a corpus whose vocabulary
    exceeds the 2000-row gate so predict routes to the JOIN path,
    then compared against the in-row scorer called directly."""
    import numpy as np

    from dataframe_spark.ml import fit_naive_bayes, predict_naive_bayes
    from dataframe_spark.ml.naive_bayes import _predict_inrow

    rng = np.random.RandomState(3)
    vocab = [f"tok{i}" for i in range(2600)]
    rows = []
    for d in range(120):
        y = "a" if d % 2 == 0 else "b"
        # class-skewed halves of the big vocabulary + shared noise
        base = 0 if y == "a" else 1300
        words = [vocab[base + int(rng.randint(0, 1300))] for _ in range(30)]
        words += [vocab[int(rng.randint(0, 2600))] for _ in range(5)]
        rows.append((d, y, " ".join(words)))
    df = spark.createDataFrame(rows, "id long, y string, text string")
    m = fit_naive_bayes(df, "y", "text", top_v=2600)
    # gate bounds vocab x classes; this model exceeds it → join path
    assert m.n_vocab is not None and m.n_vocab * len(m.classes) > 4000
    joined = {r["id"]: (r["predicted"], r["margin"])
              for r in predict_naive_bayes(df, "id", "text", m,
                                           margin=1e-3).collect()}
    inrow = {r["id"]: (r["predicted"], r["margin"])
             for r in _predict_inrow(df, "id", "text", m,
                                     1e-3, 6).collect()}
    assert joined == inrow and len(joined) == 120


def test_naive_bayes_wide_class_gate_and_vocab_cache(spark):
    """The in-row gate bounds TOTAL literal size (vocab x classes),
    so a many-class model with a small vocabulary must route to the
    join path even though its row count alone would pass; and the
    fit caches n_vocab so path selection never launches a job."""
    from dataframe_spark.ml import fit_naive_bayes, predict_naive_bayes
    from dataframe_spark.ml.naive_bayes import _predict_inrow

    # 10 classes x 500 vocab rows = 5000 literal entries > 4000
    rows = []
    for d in range(300):
        c = d % 10
        words = [f"w{c}_{d}_{j}" for j in range(3)] + [f"shared{d % 50}"]
        rows.append((d, f"c{c}", " ".join(words)))
    df = spark.createDataFrame(rows, "id long, y string, text string")
    m = fit_naive_bayes(df, "y", "text", top_v=500)
    assert m.n_vocab == m.table.count()  # cache matches reality
    assert m.n_vocab * len(m.classes) > 4000
    joined = {r["id"]: r["predicted"]
              for r in predict_naive_bayes(df, "id", "text", m).collect()}
    inrow = {r["id"]: r["predicted"]
             for r in _predict_inrow(df, "id", "text", m, 0.0, 6).collect()}
    assert joined == inrow and len(joined) == 300


def test_ols_recovers_planted_coefficients(spark):
    import numpy as np

    from dataframe_spark.ml import fit_ols, linear_fit_simple, predict_ols_expr
    from pyspark.sql import functions as F

    rng = np.random.RandomState(5)
    X = rng.randn(500, 3)
    y = 2.5 + 1.0 * X[:, 0] - 3.0 * X[:, 1] + 0.5 * X[:, 2] + rng.randn(500) * 0.01
    rows = [
        (float(X[i, 0]), float(X[i, 1]), float(X[i, 2]), float(y[i]))
        for i in range(500)
    ] + [(None, 0.0, 0.0, 0.0)]  # incomplete row: excluded
    df = spark.createDataFrame(rows, "a double, b double, c double, y double")
    m = fit_ols(df, "y", ["a", "b", "c"])
    assert m.n == 500
    assert abs(m.intercept - 2.5) < 0.01
    for got, want in zip(m.weights, [1.0, -3.0, 0.5]):
        assert abs(got - want) < 0.01
    # prediction expression matches the fit
    resid = df.where("a is not null").select(
        F.abs(F.col("y") - predict_ols_expr(m)).alias("r")
    ).agg(F.max("r")).first()[0]
    assert resid < 0.1
    # matches numpy lstsq on the same data
    A = np.column_stack([np.ones(500), X])
    beta = np.linalg.lstsq(A, y, rcond=None)[0]
    assert abs(m.intercept - beta[0]) < 1e-8
    # simple per-group fit: slope/r2 sane on y ~ a
    s = linear_fit_simple(df.where("a is not null"), "y", "a").first()
    assert s["n"] == 500 and abs(s["slope"] - 1.0) < 0.5 and 0 <= s["r2"] <= 1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        fit_ols(df, "y", [])
    with _pytest.raises(ValueError):
        fit_ols(df.where("a is null and y > 1"), "y", ["a"])
    # collinear features -> singular design
    df2 = df.withColumn("a2", F.col("a") * 2)
    with _pytest.raises(ValueError):
        fit_ols(df2.where("a is not null"), "y", ["a", "a2"])


def test_target_encoding_smoothing_and_loo(spark):
    from pyspark.sql import functions as F

    from dataframe_spark.operators.encode import (
        target_encode,
        target_encode_loo,
    )

    rows = (
        [("a", 10.0), ("a", 20.0), ("a", 30.0)]
        + [("b", 100.0)]          # rare category: shrinks to global
        + [("c", None)]           # category with no targets
        + [(None, 50.0)]          # null category forms its own group
    )
    df = spark.createDataFrame(rows, "cat string, y double")
    g = (10 + 20 + 30 + 100 + 50) / 5.0  # 42.0 global mean
    enc = {r["cat"]: r["te"] for r in
           target_encode(df, "cat", "y", alpha=2.0).collect()}
    assert abs(enc["a"] - (60 + 2 * g) / 5.0) < 1e-9
    assert abs(enc["b"] - (100 + 2 * g) / 3.0) < 1e-9
    assert abs(enc["c"] - g) < 1e-9          # pure prior
    assert abs(enc[None] - (50 + 2 * g) / 3.0) < 1e-9
    # LOO: each row's own y removed; singleton 'b' falls to the prior
    loo = target_encode_loo(df, "cat", "y", alpha=2.0)
    got = {(r["cat"], r["y"]): r["te_loo"] for r in loo.collect()}
    assert abs(got[("a", 10.0)] - (50 + 2 * g) / 4.0) < 1e-9
    assert abs(got[("b", 100.0)] - (0 + 2 * g) / 2.0) < 1e-9
    assert abs(got[("c", None)] - g) < 1e-9  # null target: full encoding
    # the LOO feature never equals a leaked per-row target
    assert all(abs(v - 100.0) > 1 for v in got.values())
    # alpha=0: all-null-target category must hit the documented
    # global-mean fallback, not 0.0/0.0 = NaN (ADVICE r6)
    raw = {r["cat"]: r["te"] for r in
           target_encode(df, "cat", "y", alpha=0.0).collect()}
    assert abs(raw["c"] - g) < 1e-9
    assert abs(raw["a"] - 20.0) < 1e-9       # unsmoothed per-cat mean
    import pytest as _pytest

    with _pytest.raises(ValueError):
        target_encode(df, "cat", "y", alpha=-1)
    with _pytest.raises(ValueError):
        target_encode_loo(df, "cat", "y", alpha=0)


def test_one_hot_indicators_and_guards(spark):
    import pytest as _pytest
    from dataframe_spark.operators.encode import one_hot

    rows = [("a b", 1), ("a-b", 2), ("c", 3), (None, 4)]
    df = spark.createDataFrame(rows, "cat string, id int")
    enc = one_hot(df, "cat")
    # 'a b' and 'a-b' sanitize to the same tag; the second gets a
    # trailing '_' instead of silently overwriting the first
    assert "cat_a_b" in enc.columns and "cat_a_b_" in enc.columns
    got = {r["id"]: (r["cat_a_b"], r["cat_a_b_"], r["cat_c"])
           for r in enc.collect()}
    assert got[1] == (1, 0, 0)
    assert got[2] == (0, 1, 0)
    assert got[3] == (0, 0, 1)
    assert got[4] == (0, 0, 0)  # null category: all-zeros, never null
    # explicit None category gets its own indicator
    enc2 = one_hot(df, "cat", categories=["c", None], prefix="p")
    got2 = {r["id"]: (r["p_c"], r["p_None"]) for r in enc2.collect()}
    assert got2[4] == (0, 1) and got2[3] == (1, 0)
    # cardinality guard: driver-side category state must stay bounded
    with _pytest.raises(ValueError):
        one_hot(df.selectExpr("cast(id as string) as cat", "id"),
                "cat", max_categories=2)


def test_hash_encode_portable_and_bounded(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F
    from dataframe_spark.operators.encode import hash_encode

    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 7).cast("string").alias("k")
    )
    out = hash_encode(df, ["id", "k"], 16, out_col="b")
    stats = out.agg(
        F.min("b").alias("lo"), F.max("b").alias("hi"),
        F.count_distinct("b").alias("nd"),
    ).first()
    assert 0 <= stats["lo"] and stats["hi"] < 16
    assert stats["nd"] > 8  # 500 rows over 16 buckets fill most
    # deterministic across invocations (md5, not rand/hash seed)
    a = sorted(r["b"] for r in out.collect())
    b = sorted(r["b"] for r in hash_encode(df, ["id", "k"], 16,
                                           out_col="b").collect())
    assert a == b
    # null key is a distinct value, not a crash
    dfn = spark.createDataFrame([(None,), ("x",)], "k string")
    vals = hash_encode(dfn, ["k"], 1000).collect()
    assert len(vals) == 2 and all(v["feature_bucket"] is not None
                                  for v in vals)
    with _pytest.raises(ValueError):
        hash_encode(df, ["k"], 0)


def test_scalers_closed_form_and_edges(spark):
    import math
    import pytest as _pytest
    from pyspark.sql import functions as F
    from dataframe_spark.operators.scale import (
        minmax_scale,
        robust_scale,
        standard_scale,
    )

    rows = [
        ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
        ("b", 7.0), ("b", 7.0),          # zero-variance group
        ("c", None),                      # all-null group
        ("a", None),                      # null value in a live group
        ("a", float("nan")),              # NaN must not poison extents
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    clean = df.where(~F.isnan(F.coalesce(F.col("x"), F.lit(0.0))))

    z = {(r["g"], r["x"]): r["x_std"]
         for r in standard_scale(clean, "x", ["g"]).collect()}
    mu, sd = 2.5, math.sqrt(1.25)  # population std of 1..4
    assert abs(z[("a", 1.0)] - (1 - mu) / sd) < 1e-12
    # a NaN row must not poison the group's moments (NaN-filtered
    # aggregates, the ADVICE-r5 lesson): other rows scale identically
    zr = {(r["g"], r["x"]): r["x_std"]
          for r in standard_scale(df, "x", ["g"]).collect()}
    assert abs(zr[("a", 1.0)] - (1 - mu) / sd) < 1e-12
    assert z[("b", 7.0)] == 0.0               # zero variance -> 0
    assert z[("c", None)] is None and z[("a", None)] is None

    mm = {(r["g"], r["x"]): r["x_minmax"]
          for r in minmax_scale(df, "x", ["g"],
                                feature_range=(-1.0, 1.0)).collect()}
    assert mm[("a", 1.0)] == -1.0 and mm[("a", 4.0)] == 1.0
    assert abs(mm[("a", 2.0)] - (-1 + 2 * (1 / 3))) < 1e-12
    assert mm[("b", 7.0)] == -1.0             # constant -> lower bound

    rb = {(r["g"], r["x"]): r["x_robust"]
          for r in robust_scale(clean, "x", ["g"]).collect()}
    # group a: q25=1.75, med=2.5, q75=3.25 (QUANTILE_CONT) -> IQR 1.5
    assert abs(rb[("a", 4.0)] - (4 - 2.5) / 1.5) < 1e-12
    assert rb[("b", 7.0)] == 0.0              # zero IQR -> 0

    # global (ungrouped) path
    g = standard_scale(clean.where("x is not null"), "x").collect()
    assert all(r["x_std"] is not None for r in g)
    with _pytest.raises(ValueError):
        minmax_scale(df, "x", feature_range=(1.0, 1.0))
    with _pytest.raises(ValueError):
        robust_scale(df, "x", lower=0.8, upper=0.2)


def test_binary_metrics_closed_form(spark):
    import math
    from dataframe_spark.ml import binary_metrics

    # hand-computable: scores 0.9/0.8 pos, 0.8/0.1 neg (one tie pair)
    rows = [(1, 0.9), (1, 0.8), (0, 0.8), (0, 0.1),
            (None, 0.5), (2, 0.5), (1, None)]   # excluded rows
    df = spark.createDataFrame(rows, "y int, s double")
    m = binary_metrics(df, "y", "s", threshold=0.5).first()
    assert m["n"] == 4 and m["n_pos"] == 2
    # pairs: (0.9>0.8)=1, (0.9>0.1)=1, (0.8=0.8)=0.5, (0.8>0.1)=1
    assert abs(m["auc"] - 3.5 / 4) < 1e-12
    # at 0.5: tp=2, fp=1, fn=0, tn=1
    assert m["accuracy"] == 0.75
    assert abs(m["precision"] - 2 / 3) < 1e-12
    assert m["recall"] == 1.0
    assert abs(m["f1"] - 0.8) < 1e-12
    ll = -(math.log(0.9) + math.log(0.8)
           + math.log(1 - 0.8) + math.log(1 - 0.1)) / 4
    assert abs(m["log_loss"] - ll) < 1e-12
    # hard 0/1 scores must clip, not inf
    hard = spark.createDataFrame([(1, 1.0), (0, 0.0), (1, 0.0)],
                                 "y int, s double")
    h = binary_metrics(hard, "y", "s").first()
    assert math.isfinite(h["log_loss"])
    # single-class input: auc null, confusion family still defined
    pos = spark.createDataFrame([(1, 0.9), (1, 0.2)], "y int, s double")
    p = binary_metrics(pos, "y", "s").first()
    assert p["auc"] is None and p["recall"] == 0.5 and p["precision"] == 1.0


def test_multiclass_metrics_closed_form(spark):
    from dataframe_spark.ml import multiclass_metrics

    rows = [
        ("a", "a"), ("a", "a"), ("a", "b"),      # a: 2/3 recalled
        ("b", "a"),                              # b: never right
        ("c", "c"),                              # c: perfect
        (None, "a"), ("a", None),                # excluded
    ]
    df = spark.createDataFrame(rows, "y string, p string")
    got = {r["class"]: r for r in multiclass_metrics(df, "y", "p").collect()}
    a = got["a"]
    assert (a["n_true"], a["n_pred"], a["tp"]) == (3, 3, 2)
    assert abs(a["precision"] - 2 / 3) < 1e-12
    assert abs(a["recall"] - 2 / 3) < 1e-12
    b = got["b"]
    assert (b["n_true"], b["n_pred"], b["tp"]) == (1, 1, 0)
    assert b["precision"] == 0.0 and b["recall"] == 0.0 and b["f1"] == 0.0
    assert got["c"]["f1"] == 1.0
    # a predicted-only class still gets a row (precision 0, recall null)
    df2 = spark.createDataFrame([("a", "z"), ("a", "a")], "y string, p string")
    g2 = {r["class"]: r for r in multiclass_metrics(df2, "y", "p").collect()}
    assert g2["z"]["n_true"] == 0 and g2["z"]["recall"] is None
    assert g2["z"]["precision"] == 0.0


def test_lift_table_closed_form(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F
    from dataframe_spark.ml import lift_table

    # 20 rows, scores 1..20, positives exactly the top 5 scores
    rows = [(1 if i > 15 else 0, float(i)) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "y int, s double")
    t = {r["bucket"]: r for r in lift_table(df, "y", "s", 4).collect()}
    assert sorted(t) == [0, 1, 2, 3]
    assert all(t[b]["n"] == 5 for b in t)
    assert t[3]["n_pos"] == 5 and t[3]["event_rate"] == 1.0
    # base rate 0.25 -> top-bucket lift 4
    assert abs(t[3]["lift"] - 4.0) < 1e-12
    assert t[3]["cum_capture"] == 1.0   # all positives in the top decile
    assert t[0]["n_pos"] == 0 and t[0]["lift"] == 0.0
    assert t[0]["cum_capture"] == 1.0   # cumulative from the top reaches 1
    with _pytest.raises(ValueError):
        lift_table(df, "y", "s", 1)


def test_cox_recovers_planted_hazard(spark):
    import math

    import numpy as np
    import pytest as _pytest
    from dataframe_spark.ml import fit_cox, partial_hazard_expr
    from dataframe_spark.ml.cox import cox_score_frame
    from pyspark.sql import functions as F

    rng = np.random.RandomState(7)
    rows = []
    for i in range(400):
        x = float(i % 2)
        x2 = float((i % 5) - 2)
        lam = math.exp(1.0 * x - 0.5 * x2) * 0.1
        t = float(rng.exponential(1.0 / lam))
        cens = float(rng.exponential(30.0))
        rows.append((min(t, cens), 1 if t <= cens else 0, x, x2))
    df = spark.createDataFrame(rows, "t double, e int, x double, x2 double")
    m = fit_cox(df, "t", "e", ["x", "x2"], max_iter=15)
    assert m.converged
    assert abs(m.coefs[0] - 1.0) < 0.35       # planted beta recovered
    assert abs(m.coefs[1] + 0.5) < 0.25
    assert m.final_logpl > m.baseline_logpl   # likelihood improved
    # score at the optimum ~ 0, recomputed wholly in Spark
    r = cox_score_frame(df, "t", "e", m).first()
    assert abs(r["g0"]) < 1e-6 and abs(r["g1"]) < 1e-6
    assert abs(r["logpl"] - m.final_logpl) < 1e-6
    # risk scoring compiles to a pure Column: high-x subjects riskier
    scored = df.select("x", partial_hazard_expr(m).alias("h"))
    hz = scored.groupBy("x").agg(F.avg("h").alias("h")).collect()
    hmap = {r["x"]: r["h"] for r in hz}
    assert hmap[1.0] > hmap[0.0]
    # guards
    with _pytest.raises(ValueError):
        fit_cox(df, "t", "e", [])
    with _pytest.raises(ValueError):
        fit_cox(df.withColumn("c", F.lit(1.0)), "t", "e", ["c"])
    with _pytest.raises(ValueError):
        fit_cox(df.where("e = 0"), "t", "e", ["x"])  # no events


def test_bootstrap_se_statistical_properties(spark):
    import math

    import pytest as _pytest
    from pyspark.sql import functions as F
    from dataframe_spark.operators.scale import (
        bootstrap_mean_se,
        poisson1_from_uniform,
    )

    # Poisson(1) ladder: mean ~1, var ~1 over a fine uniform grid
    grid = spark.range(100000).select(
        ((F.col("id") + 0.5) / 100000.0).alias("u")
    )
    w = grid.select(poisson1_from_uniform(F.col("u")).alias("w")).agg(
        F.avg("w").alias("m"), F.var_pop("w").alias("v")
    ).first()
    assert abs(w["m"] - 1.0) < 0.01 and abs(w["v"] - 1.0) < 0.05

    # bootstrap SE tracks the analytic sigma/sqrt(n)
    n = 2000
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 100).cast("double").alias("x"),
    )
    out = bootstrap_mean_se(df, "x", ["id"], n_replicates=60).first()
    analytic = out and math.sqrt(
        sum((k - 49.5) ** 2 for k in range(100)) / 100 / n
    )
    assert out["n"] == n and out["n_replicates"] == 60
    assert 0.5 * analytic < out["se_boot"] < 2.0 * analytic
    # deterministic: identical weights -> identical SE across runs
    again = bootstrap_mean_se(df, "x", ["id"], n_replicates=60).first()
    assert again["se_boot"] == out["se_boot"]
    with _pytest.raises(ValueError):
        bootstrap_mean_se(df, "x", ["id"], n_replicates=1)


def test_bootstrap_engines_agree(spark):
    """bootstrap_mean_se (the r12 mapInArrow partial-sum kernel) and
    the pure-JVM expression reference (_bootstrap_mean_se_jvm, the
    explode shape) draw the SAME md5-chunked weights and
    must produce identical results up to float summation order:
    counts exactly, means/SEs to ulp-level relative tolerance (far
    inside the query contract's 2dp/4dp rounding). Covers grouped
    and keyless calls and a B that does not divide 4 (partial last
    digest chunk)."""
    import pytest as _pytest

    from dataframe_spark.operators.scale import (
        _bootstrap_mean_se_jvm, bootstrap_mean_se)
    from pyspark.sql import functions as F

    df = spark.range(700).select(
        F.col("id"),
        (F.col("id") % 11).cast("int").alias("k2"),
        ((F.col("id") % 53) * 1.25).alias("x"),
        (F.col("id") % 3).cast("int").alias("g"),
    )
    for kwargs in (
        {"group_cols": ["g"], "n_replicates": 22},
        {"group_cols": None, "n_replicates": 10},
    ):
        a = bootstrap_mean_se(df, "x", ["id", "k2"], **kwargs).collect()
        j = _bootstrap_mean_se_jvm(df, "x", ["id", "k2"], **kwargs).collect()
        key = (lambda r: r["g"]) if kwargs["group_cols"] else (lambda r: 0)
        am = {key(r): r for r in a}
        jm = {key(r): r for r in j}
        assert set(am) == set(jm) and len(am) == len(a)
        for g in jm:
            assert am[g]["n"] == jm[g]["n"]
            assert am[g]["n_replicates"] == jm[g]["n_replicates"]
            assert am[g]["mean"] == _pytest.approx(jm[g]["mean"], rel=1e-12)
            assert am[g]["se_boot"] == _pytest.approx(
                jm[g]["se_boot"], rel=1e-12
            )


def test_bootstrap_arrow_weight_derivation_exact(spark):
    """Pin the arrow kernel's digest->uniform->Poisson arithmetic to
    the JVM expression semantics EXACTLY (integer equality over
    200 rows x 12 weights): big-endian uint32 words of the md5
    digest bytes == conv(substring(hex, 1+8j, 8), 16, 10); word /
    2**32 is an exact float64 (power-of-two division); and
    np.searchsorted(CDF, u, side='right') == the poisson1 CASE
    ladder (smallest k with u < CDF[k], else 8)."""
    import hashlib

    import numpy as np

    from dataframe_spark.operators.scale import (
        POISSON1_CDF,
        poisson1_from_uniform,
    )
    from dataframe_spark.operators.text import (
        row_digest,
        row_uniform_slice,
    )
    from pyspark.sql import functions as F

    df = spark.range(200).select(
        F.col("id"), ((F.col("id") * 7) % 13).alias("k2")
    )
    rows = df.select(
        "id",
        "k2",
        *[
            poisson1_from_uniform(
                row_uniform_slice(row_digest(["id", "k2"], str(c)), j)
            ).alias(f"w_{c}_{j}")
            for c in range(3)
            for j in range(4)
        ],
    ).collect()
    cdf = np.asarray(POISSON1_CDF)
    for r in rows:
        base = f"{r['id']}\x1f{r['k2']}".encode()
        for c in range(3):
            d = hashlib.md5(base + b"\x1f%d" % c).digest()
            words = np.frombuffer(d, dtype=">u4").astype(np.float64)
            w = np.searchsorted(cdf, words / 2.0**32, side="right")
            for j in range(4):
                assert int(w[j]) == r[f"w_{c}_{j}"]


def test_mad_outliers_closed_form(spark):
    from dataframe_spark.operators.scale import mad_outliers

    # group a: median 10, MAD 1 -> cutoff 3.5*1.4826 ~ 5.19, so the
    # planted 100 is the single flag and the 8..12 band stays clean
    rows = ([("a", float(v)) for v in [8, 9, 10, 11, 12]]
            + [("a", 100.0), ("a", None), ("a", float("nan"))]
            + [("b", 5.0), ("b", 5.0), ("b", 5.0)])   # zero-MAD group
    df = spark.createDataFrame(rows, "g string, x double")
    out = mad_outliers(df, "x", ["g"], k=3.5)
    got, nan_flags = {}, []
    for r in out.collect():
        if r["x"] is not None and r["x"] != r["x"]:
            nan_flags.append(r["x_outlier"])
        else:
            got[(r["g"], r["x"])] = r["x_outlier"]
    # NaN rows are excluded from the median/MAD and flag as null
    # (the standard/minmax scaler NaN contract, ADVICE r6)
    assert nan_flags == [None]
    assert got[("a", 100.0)] is True
    assert all(got[("a", float(v))] is False for v in [8, 9, 10, 11, 12])
    assert got[("a", None)] is None          # null stays null
    assert got[("b", 5.0)] is False          # zero MAD, zero deviation
    # ungrouped path
    g = mad_outliers(df.where("x is not null"), "x", k=3.5)
    flags = {r["x"]: r["x_outlier"] for r in g.collect()}
    assert flags[100.0] is True


def test_tree_disallowed_combinations_pathwise(spark):
    """disallowed_combinations (reference DecisionTree.hs:50) binds
    path-wise for threshold trees: no root-to-leaf path tests both
    members. Labels here need BOTH x and y (XOR-ish quadrants), so
    the free tree uses both on one path; the constrained tree must
    not, and accuracy drops."""
    rows = []
    for x in range(8):
        for y in range(8):
            rows.append((float(x), float(y), int(x < 4 and y < 4)))
    df = spark.createDataFrame(rows, "x double, y double, label int")

    def paths(t, acc=()):
        if t is None or t.is_leaf:
            yield acc
            return
        yield from paths(t.left, acc + (t.feature,))
        yield from paths(t.right, acc + (t.feature,))

    free = fit_decision_tree(
        df, "label", ["x", "y"], max_depth=2, tao_iterations=0
    )
    assert any({"x", "y"} <= set(p) for p in paths(free))
    err_free = (
        df.withColumn("p", tree_to_expr(free))
        .where(F.col("p") != F.col("label")).count()
    )
    assert err_free == 0

    constrained = fit_decision_tree(
        df, "label", ["x", "y"], max_depth=2,
        disallowed_combinations=[("x", "y")],
    )
    assert all(not ({"x", "y"} <= set(p)) for p in paths(constrained))
    err_con = (
        df.withColumn("p", tree_to_expr(constrained))
        .where(F.col("p") != F.col("label")).count()
    )
    assert err_con > 0  # the AND-quadrant needs both features on a path
