"""Similarity-search tests: cosine math, brute-force top-k, LSH
bucket behavior."""

import pytest
from pyspark.sql import functions as F

from dataframe_spark.operators import similarity
from dataframe_spark.tables import load_table


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),      # identical to 0
        (2, [0.0, 1.0, 0.0]),      # orthogonal
        (3, [-1.0, 0.0, 0.0]),     # opposite
        (4, [0.6, 0.8, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_identities(vecs):
    out = vecs.limit(1).select(
        similarity.cosine(F.array(F.lit(1.0), F.lit(0.0)), F.array(F.lit(1.0), F.lit(0.0))).alias("same"),
        similarity.cosine(F.array(F.lit(1.0), F.lit(0.0)), F.array(F.lit(0.0), F.lit(1.0))).alias("orth"),
    ).collect()[0]
    assert out["same"] == pytest.approx(1.0)
    assert out["orth"] == pytest.approx(0.0)


def test_knn_brute_ordering(vecs):
    out = similarity.knn_brute(vecs, "vec_id", "embedding", query_id=0, k=3).collect()
    assert [r["vec_id"] for r in out] == [1, 4, 2]
    assert out[0]["cosine"] == pytest.approx(1.0)
    assert out[1]["cosine"] == pytest.approx(0.6)


def test_cosine_pairs_threshold(vecs):
    pairs = similarity.cosine_pairs(vecs, "vec_id", "embedding", 0.99).collect()
    assert {(r["a_id"], r["b_id"]) for r in pairs} == {(0, 1)}


def test_cosine_pairs_tiled_side_matches_broadcast_scan(spark, sf_dir, monkeypatch):
    """Above COSINE_BROADCAST_MAX_BYTES cosine_pairs runs as one
    bucket of bucketed_cosine_pairs: same rows as the broadcast scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    key = lambda r: (r["a_id"], r["b_id"], r["cosine"])
    scan = similarity.cosine_pairs(emb, "vec_id", "embedding", threshold=0.4)
    assert "MapInArrow" in scan._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(similarity, "COSINE_BROADCAST_MAX_BYTES", 0)
    tiled = similarity.cosine_pairs(emb, "vec_id", "embedding", threshold=0.4)
    assert "FlatMapGroupsInArrow" in (
        tiled._jdf.queryExecution().executedPlan().toString()
    )
    want = sorted(map(key, scan.collect()))
    assert sorted(map(key, tiled.collect())) == want and len(want) > 0


def test_knn_lsh_contains_identical(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    brute = similarity.knn_brute(emb, "vec_id", "embedding", 0, k=10).collect()
    approx = similarity.knn_lsh(emb, "vec_id", "embedding", 0, k=10, planes=4).collect()
    assert len(approx) > 0
    # approximate result must be a subset of the corpus scored
    # identically (same cosine value for any id both return)
    bmap = {r["vec_id"]: r["cosine"] for r in brute}
    for r in approx:
        if r["vec_id"] in bmap:
            assert r["cosine"] == bmap[r["vec_id"]]


def test_knn_ivf_recall(spark, sf_dir):
    from dataframe_spark.operators.similarity import knn_brute, knn_ivf
    from dataframe_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {r["vec_id"] for r in knn_brute(emb, "vec_id", "embedding", 0, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in knn_ivf(
            emb, "vec_id", "embedding", 0, k=10, nlist=8, nprobe=4, max_iter=3
        ).collect()
    }
    assert len(approx) == 10
    # nprobe = half the lists must recover at least half the true top-k
    assert len(exact & approx) >= 5


def test_l2_normalize_and_quantize(spark):
    from dataframe_spark.operators import embeddings as E
    import math

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "id long, v array<float>"
    )
    from pyspark.sql import functions as F

    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            E.l2_normalize("v").alias("n"),
            E.quantize_int8("v").alias("q"),
        ).collect()
    }
    assert abs(rows[1]["n"][0] - 0.6) < 1e-9 and abs(rows[1]["n"][1] - 0.8) < 1e-9
    assert rows[1]["q"] == [95, 127]  # round(127*3/4)=95
    # zero vector -> null elements, not Inf/error
    assert rows[2]["n"] == [None, None] and rows[2]["q"] == [None, None]


def test_centroids(spark):
    from dataframe_spark.operators import embeddings as E

    df = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("a", [3.0, 4.0]), ("b", [5.0, 6.0])],
        "label string, v array<float>",
    )
    out = {(r["label"], r["pos"]): r["avg_val"] for r in E.centroids(df, "label", "v").collect()}
    assert out == {("a", 0): 2.0, ("a", 1): 3.0, ("b", 0): 5.0, ("b", 1): 6.0}


def test_ivf_index_roundtrip_and_partition_pruning(spark, sf_dir, tmp_path_factory):
    """Persisted IVF index: querying the on-disk index must match the
    in-memory knn_ivf given the same probes, and the __cid filter
    must prune at the PARTITION level (scan reads nprobe dirs, not
    the corpus)."""
    from dataframe_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )
    from dataframe_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path_factory.mktemp("ivf_index"))
    build_ivf_index(emb, "vec_id", "embedding", idx, nlist=8, max_iter=3)

    qv = emb.where("vec_id = 0").first()["embedding"]
    out = query_ivf_index(
        spark, idx, qv, "vec_id", "embedding", k=10, nprobe=4
    )
    rows = out.collect()
    assert len(rows) == 10
    assert rows[0]["vec_id"] == 0 and rows[0]["cosine"] == 1.0  # self at top

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__cid" in plan  # partition column drives pruning
    # files actually read come from <= nprobe list dirs
    import glob

    n_dirs = len(glob.glob(idx + "/lists/__cid=*"))
    assert n_dirs >= 6  # the index fanned out into real partitions


def test_knn_lsh_multiprobe_improves_recall(spark, sf_dir):
    """Multiprobe must strictly widen the candidate set: results at
    radius r are a superset-quality answer — recall vs brute force
    is monotonically non-decreasing in the probe radius."""
    emb = load_table(spark, sf_dir, "embeddings")
    brute = {r["vec_id"] for r in similarity.knn_brute(
        emb, "vec_id", "embedding", 0, k=10).collect()}
    recalls = []
    for radius in (0, 1, 2):
        got = {r["vec_id"] for r in similarity.knn_lsh(
            emb, "vec_id", "embedding", 0, k=10, planes=4,
            probe_radius=radius).collect()}
        recalls.append(len(brute & got) / len(brute))
    assert recalls == sorted(recalls)
    assert recalls[2] >= 0.5


def test_kmeans_wide_vectors_recover_centres(spark):
    """The fit must survive REAL embedding widths: at dim=1024 it
    must recover planted cluster centres."""
    import numpy as np

    rng = np.random.RandomState(7)
    dim, per = 1024, 40
    centers = [np.zeros(dim), np.zeros(dim)]
    centers[0][0] = 10.0
    centers[1][1] = 10.0
    rows = []
    for ci, c in enumerate(centers):
        for j in range(per):
            v = c + rng.normal(0, 0.05, dim)
            rows.append((ci * per + j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    got = similarity.kmeans_fit(df, "id", "vec", k=2, max_iter=4)
    assert got.shape == (2, dim)
    # each planted center recovered by SOME centroid (order free)
    for c in centers:
        dists = np.linalg.norm(got - c, axis=1)
        assert dists.min() < 1.0


def _np_vecs(vs):
    import numpy as np

    return np.array([[np.nan if x is None else x for x in v] for v in vs], dtype="float64")


def _pandas_assign(C):
    """A row's nearest centroid as a pandas UDF: np.stack, unit rows,
    first argmax (a NULL element reads NaN and takes centroid 0)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    Cu = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    @pandas_udf("int")
    def assign(s: pd.Series) -> pd.Series:
        A = np.stack(s.to_numpy()).astype("float64")
        An = np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax((A / An) @ Cu.T, axis=1).astype("int32"))

    return assign


def _kmeans_posexplode(df, k, max_iter, seed=42):
    """kmeans_fit's contract as a posexplode plan: from the same init,
    each iteration moves every (cluster, position) to Spark's avg of
    its rows (NULL skipped, NULL when all are, so NaN); clusters with
    no rows keep their centroid. Yields the centroids per iteration."""
    vecs = df.where(F.col("vec").isNotNull())
    init = (
        vecs.orderBy(F.xxhash64("id", F.lit(seed)), "id").limit(k).collect()
    )
    C = _np_vecs(r["vec"] for r in init)
    for _ in range(max_iter):
        for r in (
            vecs.select(
                _pandas_assign(C)("vec").alias("cid"),
                F.posexplode("vec").alias("pos", "x"),
            )
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        ):
            C[r["cid"], r["pos"]] = float("nan") if r["m"] is None else r["m"]
        yield C.copy()


def _kmeans_rows(spark, init, rest, seed=42):
    """(id, vec) rows of ``init`` + ``rest`` with ids chosen so that
    kmeans_fit's init (the smallest xxhash64(id, seed)) is ``init``,
    in order."""
    order = [
        r["id"]
        for r in spark.range(len(init) + len(rest))
        .orderBy(F.xxhash64("id", F.lit(seed)), "id")
        .collect()
    ]
    return sorted(zip(order, init + rest))


def _same_bits(a, b):
    import numpy as np

    nan = np.isnan(a)
    return (nan == np.isnan(b)).all() and (
        a[~nan].view("int64") == b[~nan].view("int64")
    ).all()


@pytest.mark.parametrize("case", ["planted", "null_position"])
@pytest.mark.parametrize("partitions", [1, 4])
def test_kmeans_fit_matches_posexplode_reference(spark, case, partitions):
    """kmeans_fit against the posexplode/avg fit, iteration by
    iteration from the same init: identical assignments, centroids
    bitwise equal on one partition (both add each partition row by
    row from 0.0) and within 1e-12 otherwise.

    ``planted``: three planted clusters, a NULL-element row and a zero
    row (both take centroid 0) and a duplicated init row, whose second
    copy never wins a tie, so its cluster starts empty.
    ``null_position``: centroid 1 starts from a row with a NULL
    element, so its unit row is NaN and every valid row (the zero row
    too) takes it; the rows with that NULL element take centroid 0,
    whose position 2 becomes NaN, and centroid 2 is left empty."""
    import numpy as np

    rng = np.random.RandomState(3)
    dim = 6
    axes = np.eye(dim)

    def near(i, n):
        return [(axes[i] * 5 + rng.normal(0, 0.3, dim)).tolist() for _ in range(n)]

    null_row = near(0, 1)[0]
    null_row[2] = None
    zero_row = [0.0] * dim
    a, b, c = near(0, 20), near(1, 20), near(4, 20)
    if case == "planted":
        init, rest = [a[0], b[0], list(b[0])], a[1:] + b[1:] + c + [null_row, zero_row]
    else:
        nulls = near(3, 8)
        for v in nulls:
            v[2] = None
        init, rest = [a[0], nulls[0], c[0]], a[1:] + b + c[1:] + nulls[1:] + [zero_row]
    rows = _kmeans_rows(spark, init, rest)
    rows.append((len(rows), None))  # a NULL vector takes no part
    df = spark.createDataFrame(rows, "id long, vec array<double>").coalesce(partitions)
    for it, want in enumerate(_kmeans_posexplode(df, 3, 3), start=1):
        got = similarity.kmeans_fit(df, "id", "vec", k=3, max_iter=it)
        if partitions == 1:
            assert _same_bits(got, want), (it, got, want)
        else:
            np.testing.assert_allclose(got, want, rtol=0, atol=1e-12)
        vecs = df.where(F.col("vec").isNotNull())
        mine = vecs.select(
            "id", similarity._assign_udf(similarity._unit_rows(got))("vec").alias("c")
        )
        ref = vecs.select("id", _pandas_assign(want)("vec").alias("c"))
        assert sorted(mine.collect()) == sorted(ref.collect())
        if it == 1:  # cluster 2 starts empty; null_position's NaN
            assert (want[2] == init[2]).all()
            assert np.isnan(want[0, 2]) == (case == "null_position")


def test_two_level_clusters_match_numpy_reference(spark):
    """semdedup's two-level clusters (k = 200: k1 = 15 coarse, k2 = 14
    sub) against the same math on the collected rows: the coarse
    assignment against kmeans_fit's k1 centroids, then per coarse
    group the rows sorted by (xxhash64(id, seed), id), k2 sub-centroids
    seeded from the first k2 rows, means taken position by position
    over non-NULL elements, the codebook padded with its first row,
    and the first argmax. A row with a NULL element takes coarse 0 and
    sub 0, and its NULL position adds nothing to its sub-centroid."""
    import numpy as np

    rng = np.random.RandomState(5)
    rows = [(i, rng.randn(6).tolist()) for i in range(120)]
    rows[7] = (7, [None] + rows[7][1][1:])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out, got = _semdedup_rows(df, 0.99, k=200, max_iter=2)
    assert got == _semdedup_reference(df, "vec_id", "embedding", out, 0.99)

    k1, k2 = 15, 14
    unit = similarity._unit_rows
    C1 = unit(similarity.kmeans_fit(df, "vec_id", "embedding", k=k1, max_iter=2))
    coll = df.select(
        "vec_id", "embedding", F.xxhash64("vec_id", F.lit(42)).alias("h")
    ).collect()
    coll.sort(key=lambda r: (r["h"], r["vec_id"]))
    ids = np.array([r["vec_id"] for r in coll])
    V = _np_vecs(r["embedding"] for r in coll)
    coarse = np.argmax(unit(V) @ C1.T, axis=1)
    want, short = {}, 0
    for c in np.unique(coarse):
        A = V[coarse == c]
        C = A[:k2].copy()
        for _ in range(2):
            cid = np.argmax(unit(A) @ unit(C).T, axis=1)
            for j in range(len(C)):
                if (cid == j).any():
                    with np.errstate(invalid="ignore"):  # NULL in every row: NaN
                        C[j] = np.nansum(A[cid == j], 0) / (~np.isnan(A[cid == j])).sum(0)
        short += len(C) < k2
        C = np.vstack([C, np.repeat(C[:1], k2 - len(C), axis=0)])
        sub = np.argmax(unit(A) @ unit(C).T, axis=1)
        want.update(zip(ids[coarse == c].tolist(), (c * k2 + sub).tolist()))
    assert short  # some group fits fewer than k2 and pads
    assert want[7] == 0
    assert {i: c for i, c, _ in got} == want


def test_null_element_and_zero_rows_take_cluster_zero(spark):
    """A row with a NULL element scores NaN against every centroid and
    a zero row 0.0, so both take the first centroid, flat and
    two-level."""
    import numpy as np

    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [None, 1.0]), (3, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    flat = similarity.semdedup(
        df, "vec_id", "embedding", k=2, centroids=np.array([[1.0, 0.0], [0.0, 1.0]])
    )
    assert sorted((r["id"], r["cluster"]) for r in flat.collect()) == [
        (0, 0), (1, 1), (2, 0), (3, 0)
    ]
    rng = np.random.RandomState(7)
    rows = [(i, (np.eye(16)[i % 8] + rng.rand(16) * 0.05).tolist()) for i in range(300)]
    rows += [(300, [None] + [1.0] * 15), (301, [0.0] * 16)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    two, got = _semdedup_rows(df, 0.95, k=80, max_iter=2)
    assert {i: c for i, c, _ in got if i >= 300} == {300: 0, 301: 0}
    assert got == _semdedup_reference(df, "vec_id", "embedding", two, 0.95)


def test_semdedup_known_groups(spark):
    """Two duplicate groups + two isolated vectors: semdedup must
    keep exactly one per group (the min id) and every isolated row,
    regardless of how k-means splits the space — each group's
    members are EXACTLY the same direction (scaled copies), so their
    unit vectors produce identical centroid dot products and the
    argmax assignment co-clusters them under ANY centroids, not
    just this seed's."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0, 0.0]),     # same direction as 0
        (2, [0.5, 0.0, 0.0, 0.0]),     # same direction as 0
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 3.0, 0.0, 0.0]),     # same direction as 3
        (5, [0.0, 0.0, 1.0, 0.0]),     # isolated
        (6, [0.0, 0.0, 0.0, 1.0]),     # isolated
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.semdedup(
        df, "vec_id", "embedding", k=2, tau=0.95, max_iter=3
    )
    got = {r["id"]: r["keep"] for r in out.collect()}
    assert len(got) == 7
    assert got[0] and not got[1] and not got[2]
    assert got[3] and not got[4]
    assert got[5] and got[6]


def _semdedup_reference(df, id_col, vec_col, out, tau):
    """The pre-fusion pipeline on the clusters ``out`` assigned: the
    dot/norm expression join inside each cluster, connected_components,
    min-id keep. Sorted (id, cluster, keep) rows."""
    from dataframe_spark.operators.graph import connected_components

    v = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), similarity._dvec(vec_col).alias("v"))
        .join(out.select(F.col("id").alias("__id"), "cluster"),
              F.col("id") == F.col("__id"))
    )
    a = v.select(F.col("id").alias("a_id"), "cluster", F.col("v").alias("va"))
    b = v.select(F.col("id").alias("b_id"), "cluster", F.col("v").alias("vb"))
    sim = similarity.dot(F.col("va"), F.col("vb")) / F.nullif(
        similarity.norm(F.col("va")) * similarity.norm(F.col("vb")), F.lit(0.0)
    )
    edges = (
        a.join(b, "cluster")
        .where(F.col("a_id") < F.col("b_id"))
        .where(sim >= tau)
        .select("a_id", "b_id")
    )
    comp = connected_components(edges, "a_id", "b_id")
    ref = v.join(comp, v["id"] == comp["node"], "left").select(
        "id",
        "cluster",
        (F.coalesce(F.col("component"), F.col("id")) == F.col("id")).alias("keep"),
    )
    return sorted(tuple(r) for r in ref.collect())


def _semdedup_rows(df, tau, **kw):
    out = similarity.semdedup(df, "vec_id", "embedding", tau=tau, **kw)
    rows = sorted(tuple(r) for r in out.collect())
    return out, rows


def _near_dup_rows(seed, n=120, dim=8):
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        base = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i, [round(x, 3) for x in base]))
        if i % 4 == 0:  # a near-duplicate partner
            rows.append(
                (1000 + i, [round(x * 1.5 + rng.gauss(0, 0.05), 3) for x in base])
            )
    return rows


def test_semdedup_matches_expression_reference(spark):
    """The fused per-cluster pass emits exactly the rows of the
    expression join + connected_components + min-id keep on the same
    clusters."""
    df = spark.createDataFrame(
        _near_dup_rows(77), "vec_id long, embedding array<float>"
    )
    out, rows = _semdedup_rows(df, 0.9, k=4, max_iter=2)
    assert rows == _semdedup_reference(df, "vec_id", "embedding", out, 0.9)
    assert any(not keep for _, _, keep in rows)  # dups found


def test_semdedup_tau_boundary_is_exact(spark):
    """tau set to a pair's exact sequential cosine: the pair links, and
    one ulp above it does not — even where the GEMM cosine of the same
    pair lands on the other side, so a raw GEMM threshold would flip
    the edge."""
    import numpy as np

    rng = np.random.RandomState(5)
    planted = {}
    for _ in range(2000):
        V = rng.rand(2, 64).round(6)
        V[1] = V[0] + rng.rand(64) * 0.01
        nrm = np.sqrt(similarity._seq_dot(V, V))
        seq = similarity._seq_dot(V[:1], V[1:])[0] / (nrm[0] * nrm[1])
        U = V / nrm[:, None]
        gemm = (U @ U.T)[0, 1]
        if gemm < seq and "below" not in planted:
            planted["below"] = (V, seq, seq)  # raw GEMM would drop it
        if gemm > seq and "above" not in planted:
            planted["above"] = (V, np.nextafter(seq, 2.0), seq)  # would keep it
        if len(planted) == 2:
            break
    assert len(planted) == 2
    for side, (V, tau, seq) in planted.items():
        df = spark.createDataFrame(
            [(0, V[0].tolist()), (1, V[1].tolist())],
            "vec_id long, embedding array<double>",
        )
        # the expression's own cosine is the planted one
        got = df.where("vec_id = 0").crossJoin(
            df.where("vec_id = 1").select(F.col("embedding").alias("b"))
        ).select(
            (similarity.dot("embedding", "b")
             / (similarity.norm("embedding") * similarity.norm("b"))).alias("s")
        ).first()["s"]
        assert got == seq
        out, rows = _semdedup_rows(df, float(tau), k=1)
        assert rows == _semdedup_reference(df, "vec_id", "embedding", out, float(tau))
        assert [keep for _, _, keep in rows] == [True, side == "above"]


def test_semdedup_oversized_route_matches_fused(spark, monkeypatch):
    """Clusters above the per-task bound take the distributed route
    (bucketed GEMM sub-blocks + connected_components) and emit the
    same rows as the fused pass."""
    df = spark.createDataFrame(
        _near_dup_rows(91, n=80), "vec_id long, embedding array<float>"
    )
    out, fused = _semdedup_rows(df, 0.9, k=2, max_iter=2)
    monkeypatch.setattr(similarity, "_MAX_CLUSTER_ROWS", 8)
    monkeypatch.setattr(similarity, "_BLOCK_ROWS", 3)
    big = sorted(
        tuple(r)
        for r in similarity.semdedup(
            df, "vec_id", "embedding", k=2, tau=0.9, max_iter=2
        ).collect()
    )
    assert big == fused
    assert fused == _semdedup_reference(df, "vec_id", "embedding", out, 0.9)


@pytest.mark.parametrize("bound", [32768, 2])
def test_semdedup_odd_rows_follow_expression_semantics(spark, monkeypatch, bound):
    """Rows outside the GEMM's safe norm range are decided by the
    expression's rules on both routes: a zero (or underflowing) norm
    against a finite one is a NULL cosine and never links; an
    overflowing norm makes NaN cosines (inf/inf, 0·inf), which DO link
    because Spark orders NaN above every double; a NULL element never
    links."""
    monkeypatch.setattr(similarity, "_MAX_CLUSTER_ROWS", bound)
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [2.0, 0.01, 0.0]),
        (2, [0.0, 0.0, 0.0]),          # zero norm
        (3, [1e-200, 0.0, 0.0]),       # norm underflows to 0
        (4, [1e200, 1e200, 1e200]),    # norm overflows to inf
        (5, [1e200, 2e200, 1e200]),    # ... NaN cosine with 4
        (6, [1.0, None, 0.0]),         # NULL element
        (7, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out, got = _semdedup_rows(df, 0.9, k=1)
    assert got == _semdedup_reference(df, "vec_id", "embedding", out, 0.9)
    keep = {i: k for i, _, k in got}
    assert keep == {0: True, 1: False, 2: True, 3: False, 4: False,
                    5: False, 6: True, 7: True}


def test_semdedup_string_ids(spark):
    """String ids (no integral surrogate needed): survivors are the
    smallest id in Spark's string order, non-ASCII included, flat and
    two-level."""
    rows = [
        (f"{'é' if i % 3 == 0 else 'd'}{i:04d}", v)
        for i, v in _near_dup_rows(13, n=60)
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    for k in (3, 65):
        out, got = _semdedup_rows(df, 0.9, k=k, max_iter=2)
        assert got == _semdedup_reference(df, "vec_id", "embedding", out, 0.9), k
        assert any(not keep for _, _, keep in got), k


def test_semdedup_null_id_never_links(spark):
    """A NULL id links with nothing and keeps NULL, flat and two-level;
    the other rows are the expression reference's."""
    rows = [(0, [1.0, 0.0]), (None, [1.0, 0.0]), (1, [2.0, 0.0]),
            (2, [0.0, 1.0]), (None, [0.0, 3.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for k in (1, 65):
        out = similarity.semdedup(df, "vec_id", "embedding", k=k)
        got = sorted((r["id"] is None, r["id"], r["keep"]) for r in out.collect())
        assert got == [(False, 0, True), (False, 1, False), (False, 2, True),
                       (True, None, None), (True, None, None)], k
        live = sorted(tuple(r) for r in out.where(F.col("id").isNotNull()).collect())
        assert live == _semdedup_reference(df, "vec_id", "embedding", out, 0.9), k


def test_semdedup_hierarchical_matches_reference(spark, monkeypatch):
    """k > HIER_KMEANS_MIN_K (the two-level codebook) links every fine
    cluster inside its coarse group's task, whatever its size: the
    same rows with _MAX_CLUSTER_ROWS at 2."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    for i in range(400):
        base = np.zeros(16)
        base[i % 8] = 1.0
        rows.append((i, (base + rng.rand(16) * 0.05).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out, got = _semdedup_rows(df, 0.95, k=80, max_iter=2)
    assert len({c for _, c, _ in got}) > 8
    assert got == _semdedup_reference(df, "vec_id", "embedding", out, 0.95)
    monkeypatch.setattr(similarity, "_MAX_CLUSTER_ROWS", 2)
    assert _semdedup_rows(df, 0.95, k=80, max_iter=2)[1] == got


def test_min_labels_long_chain():
    """Hook-and-jump labels a path of 1000 nodes (diameter 999) with
    its minimum, fed in reverse order and in two batches."""
    import numpy as np

    n = 1000
    u = np.arange(n - 1)[::-1]
    lab = similarity._min_labels(np.arange(n + 2), u[:500], u[:500] + 1)
    lab = similarity._min_labels(lab, u[500:] + 1, u[500:])
    assert (lab[:n] == 0).all() and list(lab[n:]) == [n, n + 1]


def test_semdedup_null_embedding_excluded(spark):
    rows = [(0, [1.0, 0.0]), (1, None), (2, [1.0, 0.0001])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.semdedup(df, "vec_id", "embedding", k=1, tau=0.9)
    got = {r["id"]: r["keep"] for r in out.collect()}
    assert set(got) == {0, 2}
    assert got[0] and not got[2]


def test_knn_ivf_null_embedding_excluded(spark):
    """A corpus row with a missing embedding must be ignored, not
    crash the assignment UDF (regression: np.stack over None)."""
    rows = [
        (0, [1.0, 0.0]),
        (1, None),
        (2, [0.9, 0.1]),
        (3, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.knn_ivf(
        df, "vec_id", "embedding", query_id=0, k=2, nlist=2, nprobe=2,
        max_iter=2,
    ).collect()
    assert [r["vec_id"] for r in out] == [2, 3]


def test_pca_recovers_planted_axes(spark):
    # rank-2 planted structure in 6-d: x = a*u + b*v + tiny noise,
    # u/v orthogonal axes; PCA must put >99% of variance on 2 comps
    import numpy as np

    from dataframe_spark.operators.embeddings import pca_fit, pca_project

    rng = np.random.RandomState(7)
    u = np.array([1.0, 0, 0, 0, 0, 0])
    v = np.array([0, 1.0, 0, 0, 0, 0])
    X = (
        np.outer(rng.randn(300) * 3.0, u)
        + np.outer(rng.randn(300), v)
        + rng.randn(300, 6) * 1e-3
    )
    rows = [(i, X[i].tolist()) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    comps, eigvals, mean, total = pca_fit(df, "embedding", k=2)
    assert eigvals[0] > eigvals[1] > 0
    assert (eigvals[0] + eigvals[1]) / total > 0.99
    # components align with the planted axes (sign-fixed)
    assert abs(abs(comps[0] @ u) - 1.0) < 1e-3
    assert abs(abs(comps[1] @ v) - 1.0) < 1e-3
    # projected variance equals the eigenvalues; comps decorrelated
    from pyspark.sql import functions as F

    proj = pca_project(df, "embedding", comps, mean, out_col="p")
    r = proj.agg(
        F.var_samp(F.element_at("p", 1)).alias("v0"),
        F.var_samp(F.element_at("p", 2)).alias("v1"),
        F.corr(F.element_at("p", 1), F.element_at("p", 2)).alias("c"),
        F.avg(F.element_at("p", 1)).alias("m0"),
    ).collect()[0]
    assert abs(r["v0"] - eigvals[0]) < 1e-6 * eigvals[0]
    assert abs(r["v1"] - eigvals[1]) < 1e-6 * max(eigvals[1], 1e-9)
    assert abs(r["c"]) < 1e-6
    assert abs(r["m0"]) < 1e-9  # centered


def test_pca_null_vectors_and_guards(spark):
    import numpy as np

    from dataframe_spark.operators.embeddings import pca_fit, pca_project

    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(4).tolist()) for i in range(50)] + [
        (100, None),
        (101, None),
    ]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    comps, eigvals, mean, total = pca_fit(df, "embedding", k=4)
    assert comps.shape == (4, 4)
    out = pca_project(df, "embedding", comps, mean, out_col="p")
    got = {r["id"]: r["p"] for r in out.collect()}
    assert len(got) == 52  # null-vec rows survive projection...
    assert got[100] is None or all(x is None for x in got[100])
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pca_fit(df, "embedding", k=9)  # k > dim
    with _pytest.raises(ValueError):
        pca_fit(df.where("id < 0"), "embedding", k=2)  # no vectors



def test_pca_null_element_raises_with_count(spark):
    """A vector with a NULL element raises ValueError naming how many
    there are; a NULL vector still just drops out."""
    from dataframe_spark.operators.embeddings import pca_fit

    rows = [(i, [float(i), 1.0, 2.0 * i + (i % 3)]) for i in range(10)]
    rows += [(10, [1.0, None, 3.0]), (11, [None, None, 1.0]), (12, None)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    with pytest.raises(ValueError, match="2 vectors have a NULL element"):
        pca_fit(df, "embedding", k=2)

def test_pca_whitening_unit_variance(spark):
    import numpy as np

    from dataframe_spark.operators.embeddings import pca_fit, pca_project
    from pyspark.sql import functions as F

    rng = np.random.RandomState(11)
    X = rng.randn(400, 5) * np.array([4.0, 2.0, 1.0, 0.5, 0.25])
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(400)],
        "id long, embedding array<double>",
    )
    comps, ev, mean, _ = pca_fit(df, "embedding", k=3)
    proj = pca_project(
        df, "embedding", comps, mean, out_col="p", whiten=True, eigvals=ev
    )
    r = proj.agg(
        *[F.var_samp(F.element_at("p", i + 1)).alias(f"v{i}") for i in range(3)]
    ).collect()[0]
    for i in range(3):
        assert abs(r[f"v{i}"] - 1.0) < 1e-6
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pca_project(df, "embedding", comps, mean, whiten=True)
    with _pytest.raises(ValueError):
        pca_project(df, "embedding", comps, mean, whiten=True, eigvals=ev[:2])


def test_hyperplane_sketch_degenerate_vectors_null_bucket(spark):
    """dim=None must NULL the bucket for empty / null-element
    vectors instead of pooling them in bucket 0 (the r5 silent-
    collapse failure, re-introduced by the r8 per-row sizing and
    fixed in r9)."""
    rows = [
        (0, [1.0, 2.0, 3.0]),
        (1, []),                    # empty
        (2, [1.0, None, 3.0]),      # null-poisoned
        (3, None),                  # null vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = df.select(
        "vec_id",
        similarity.hyperplane_sketch(F.col("embedding"), planes=4).alias("b"),
    ).collect()
    by_id = {r["vec_id"]: r["b"] for r in out}
    assert by_id[0] is not None
    assert by_id[1] is None
    assert by_id[2] is None
    assert by_id[3] is None
    # fixed-width corpora keep their historic buckets: explicit dim
    # agrees with per-row sizing on well-formed vectors
    ref = df.where("vec_id = 0").select(
        similarity.hyperplane_sketch(F.col("embedding"), planes=4, dim=3).alias("b")
    ).collect()[0]["b"]
    assert by_id[0] == ref


def test_hierarchical_kmeans_semdedup_contract(spark):
    """Two-level codebook (k > HIER_KMEANS_MIN_K): valid partition —
    every non-null row appears exactly once; every drop is justified
    by a same-cluster neighbor at cosine >= tau; kept rows in one
    cluster are pairwise below tau (the q_semdedup_check invariants,
    which hold for ANY clustering); and the fit is deterministic."""
    import numpy as np

    rows = []
    rng = np.random.RandomState(7)
    for i in range(600):
        center = rng.RandomState if False else None
        base = np.zeros(16)
        base[i % 8] = 1.0
        noise = rng.rand(16) * 0.05
        rows.append((i, (base + noise).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.semdedup(
        df, "vec_id", "embedding", k=100, tau=0.95, max_iter=2
    ).collect()
    assert len(out) == 600
    assert len({r["id"] for r in out}) == 600
    dropped = [r for r in out if not r["keep"]]
    assert dropped  # near-identical basis groups must dedup
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(r)
    vecs = {i: np.asarray(v) for i, v in rows}

    def cos(a, b):
        return float(
            vecs[a] @ vecs[b]
            / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
        )

    for cl, members in by_cluster.items():
        kept = [r["id"] for r in members if r["keep"]]
        ids = [r["id"] for r in members]
        for r in members:
            if not r["keep"]:
                assert any(
                    cos(r["id"], o) >= 0.95 - 1e-9 for o in ids if o != r["id"]
                ), (cl, r["id"])
        for i, a in enumerate(kept):
            for b in kept[i + 1:]:
                assert cos(a, b) < 0.95 + 1e-9, (cl, a, b)
    # determinism: the same call returns the same clusters
    out2 = similarity.semdedup(
        df, "vec_id", "embedding", k=100, tau=0.95, max_iter=2
    ).collect()
    assert sorted((r["id"], r["cluster"], r["keep"]) for r in out) == sorted(
        (r["id"], r["cluster"], r["keep"]) for r in out2
    )


def test_bucketed_cosine_pairs_matches_global_within_buckets(spark, monkeypatch):
    """Per-bucket GEMM pairs == the bucket-filtered subset of the
    global exact pairs (numpy brute force over the collected rows),
    including across GEMM row-block boundaries (_BLOCK_ROWS = 3
    forces multi-tile buckets)."""
    import random

    import numpy as np

    from dataframe_spark.operators import similarity as S

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 3)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    monkeypatch.setattr(S, "_BLOCK_ROWS", 3)
    got = {
        (r["a_id"], r["b_id"], r["cosine"])
        for r in S.bucketed_cosine_pairs(
            df, "vec_id", "embedding", "label", threshold=0.2
        ).collect()
    }
    U = np.array([v for _, v, _ in rows])
    U /= np.linalg.norm(U, axis=1)[:, None]
    sims = np.round(U @ U.T, 4)
    want = {
        (a, b, float(sims[a, b]))
        for a in range(40)
        for b in range(a + 1, 40)
        if a % 3 == b % 3 and sims[a, b] >= 0.2
    }
    assert got == want and len(want) > 10
    import pytest

    with pytest.raises(TypeError):
        S.bucketed_cosine_pairs(
            df.withColumn("sid", df.vec_id.cast("string")),
            "sid", "embedding", "label",
        )


def test_bucketed_cosine_pairs_null_buckets_dropped(spark):
    """NULL bucket values must not pool into a phantom bucket
    (ADVICE r10 #1): the contract is a bucket-key equijoin, and
    equijoins never match NULL = NULL."""
    from dataframe_spark.operators import similarity as S

    rows = [
        (1, [1.0, 0.0], "x"),
        (2, [1.0, 0.0], "x"),
        (3, [1.0, 0.0], None),
        (4, [1.0, 0.0], None),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    got = sorted(
        (r["a_id"], r["b_id"])
        for r in S.bucketed_cosine_pairs(
            df, "vec_id", "embedding", "label", threshold=0.5
        ).collect()
    )
    assert got == [(1, 2)]  # the two null-label rows never pair


def test_bucketed_cosine_pairs_mega_bucket_split(spark, monkeypatch):
    """A bucket past _MAX_CLUSTER_ROWS splits into sub-block tile
    pairs (ADVICE r10 #2); result identical to the single-task
    shape, each unordered pair exactly once."""
    import random

    from dataframe_spark.operators import similarity as S

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 2)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    whole = S.bucketed_cosine_pairs(
        df, "vec_id", "embedding", "label", threshold=0.2
    ).collect()
    monkeypatch.setattr(S, "_BLOCK_ROWS", 3)
    monkeypatch.setattr(S, "_MAX_CLUSTER_ROWS", 7)
    split = S.bucketed_cosine_pairs(
        df, "vec_id", "embedding", "label", threshold=0.2
    ).collect()
    key = lambda r: (r["a_id"], r["b_id"], r["cosine"])
    ws, ss = sorted(map(key, whole)), sorted(map(key, split))
    assert ws == ss and len(ws) > 20
    assert len(set(ws)) == len(ws)  # no pair emitted twice


def _expression_pairs(df, t):
    """The rows every 4dp pair path must return: the self-join on
    ``a_id < b_id`` filtered by ``round(cosine(a, b), 4) >= t``, keyed
    so NaN cosines compare."""
    a = df.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("vb"))
    cos = F.round(similarity.cosine("va", "vb"), 4).alias("cosine")
    joined = a.join(b, F.col("a_id") < F.col("b_id")).select("a_id", "b_id", cos)
    return _pair_rows(joined.where(F.col("cosine") >= t))


def _pair_rows(pairs):
    return sorted((r["a_id"], r["b_id"], repr(r["cosine"])) for r in pairs.collect())


def _pair_paths(df, t, monkeypatch):
    """{path: rows} of cosine_pairs' broadcast scan and tiled side and
    bucketed_cosine_pairs on single-task and on sub-block tiles, for a
    frame whose rows share one ``label``."""
    got = {}
    with monkeypatch.context() as m:
        m.setattr(similarity, "COSINE_BROADCAST_MAX_BYTES", 1 << 63)
        got["scan"] = _pair_rows(similarity.cosine_pairs(df, "vec_id", "embedding", t))
        m.setattr(similarity, "COSINE_BROADCAST_MAX_BYTES", 0)
        m.setattr(similarity, "_BLOCK_ROWS", 3)
        got["tiled"] = _pair_rows(similarity.cosine_pairs(df, "vec_id", "embedding", t))
        got["bucket"] = _pair_rows(
            similarity.bucketed_cosine_pairs(df, "vec_id", "embedding", "label", t))
        m.setattr(similarity, "_MAX_CLUSTER_ROWS", 5)
        got["sub-block"] = _pair_rows(
            similarity.bucketed_cosine_pairs(df, "vec_id", "embedding", "label", t))
    return got


def _midpoint_groups(n=12, dim=32, mid=0.90005):
    """``n`` pairs (u, v) whose sequential cosine sits within a few
    ulps of the 4dp rounding midpoint ``mid``, found by bisecting v =
    u + s·w: even groups keep the last v that rounds up (cosine >=
    ``mid``), odd ones the first that rounds down."""
    import numpy as np

    rng = np.random.RandomState(3)

    def seq(u, v):
        V = np.array([u, v])
        nrm = np.sqrt(similarity._seq_dot(V, V))
        return similarity._seq_dot(V[:1], V[1:])[0] / (nrm[0] * nrm[1])

    rows = []
    for g in range(n):
        u, w = rng.randn(dim), rng.randn(dim)
        lo, hi = 0.0, 4.0
        while lo < (lo + hi) / 2 < hi:
            s = (lo + hi) / 2
            lo, hi = (s, hi) if seq(u, u + s * w) >= mid else (lo, s)
        v = u + (hi if g % 2 else lo) * w
        assert (seq(u, v) >= mid) == (g % 2 == 0)
        rows += [(2 * g, u.tolist(), 0), (2 * g + 1, v.tolist(), 0)]
    return rows


def test_rounding_midpoint_pairs_follow_expression(spark, monkeypatch):
    """Pairs planted one ulp either side of the 0.90005 rounding
    midpoint, where the GEMM value often lands on the other side:
    every 4dp pair path returns the expression join's rows (Spark's
    HALF_UP round of the sequential cosine), and semdedup on both
    routes links exactly the pairs at or above tau = 0.90005."""
    df = spark.createDataFrame(
        _midpoint_groups(), "vec_id long, embedding array<double>, label int"
    )
    ups = [(2 * g, 2 * g + 1) for g in range(0, 12, 2)]
    both = sorted(ups + [(2 * g, 2 * g + 1) for g in range(1, 12, 2)])
    for t, pairs, values in ((0.9, both, {"0.9", "0.9001"}), (0.9001, ups, {"0.9001"})):
        want = _expression_pairs(df, t)
        assert [(a, b) for a, b, _ in want] == pairs
        assert {c for _, _, c in want} == values
        for path, got in _pair_paths(df, t, monkeypatch).items():
            assert got == want, (path, t)
    out, fused = _semdedup_rows(df, 0.90005, k=1)
    assert fused == _semdedup_reference(df, "vec_id", "embedding", out, 0.90005)
    assert [i for i, _, keep in fused if not keep] == [2 * g + 1 for g in range(0, 12, 2)]
    monkeypatch.setattr(similarity, "_MAX_CLUSTER_ROWS", 5)
    monkeypatch.setattr(similarity, "_BLOCK_ROWS", 3)
    assert _semdedup_rows(df, 0.90005, k=1)[1] == fused


def test_pair_paths_odd_rows_follow_expression(spark, monkeypatch):
    """The odd rows of test_semdedup_odd_rows_follow_expression_semantics
    through the public pair functions: a zero or underflowing norm
    never pairs with a finite one, an overflowing norm pairs with a NaN
    cosine, a NULL element never pairs."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [2.0, 0.01, 0.0]),
        (2, [0.0, 0.0, 0.0]),
        (3, [1e-200, 0.0, 0.0]),
        (4, [1e200, 1e200, 1e200]),
        (5, [1e200, 2e200, 1e200]),
        (6, [1.0, None, 0.0]),
        (7, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in rows], "vec_id long, embedding array<double>, label int"
    )
    want = _expression_pairs(df, 0.9)
    assert want == [(0, 1, "1.0"), (2, 4, "nan"), (2, 5, "nan"), (3, 4, "nan"),
                    (3, 5, "nan"), (4, 5, "nan")]
    for path, got in _pair_paths(df, 0.9, monkeypatch).items():
        assert got == want, path
