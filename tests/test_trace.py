"""Job tags on the operators' eager steps (``plans.trace.stage``), read
back per call by ``tools.stage_profile.profile_call``."""

import random

import pytest

from tools.stage_profile import profile_call

JACCARD_STEPS = [
    "jaccard_pairs:sample",
    "jaccard_pairs:prefix",
    "jaccard_pairs:slim",
    "jaccard_pairs:candidates",
    "jaccard_pairs:needed",
]
MINHASH_STEPS = [
    "minhash_dedup_pairs:sigs",
    "lsh_candidate_pairs:bands",
    "minhash_dedup_pairs:candidates",
    "minhash_dedup_pairs:needed",
]


@pytest.fixture(scope="module")
def planted(spark):
    """30 docs of 40 random words and a copy of each of the first 10
    with its last word changed: 37 of 39 3-grams shared, J = 0.949."""
    rnd = random.Random(5)
    words = [[f"w{rnd.randrange(1000)}" for _ in range(40)] for _ in range(30)]
    rows = [(i, " ".join(w)) for i, w in enumerate(words)]
    rows += [(100 + i, " ".join(words[i][:-1] + ["edited"])) for i in range(10)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _library_tags(spark):
    return [t for t in spark.sparkContext.getJobTags() if ":" in t]


def _steps_then_result(spark, build):
    """Profile the operator call alone, then the action on its frame."""
    out, call = profile_call(spark, build)
    rows, action = profile_call(spark, out.collect)
    assert list(action["steps"]) == ["result"]
    assert call["jobs"] > 0
    assert _library_tags(spark) == []
    return call, {(r["a_id"], r["b_id"]) for r in rows}


@pytest.mark.parametrize(
    "op, steps",
    [("jaccard_pairs", JACCARD_STEPS), ("minhash_dedup_pairs", MINHASH_STEPS)],
)
def test_pair_big_paths_tag_every_eager_step(spark, planted, monkeypatch, op, steps):
    """On the big path every job the call starts before it returns
    runs under one of the operator's steps, in this order, and the
    action's jobs carry no library tag."""
    import dataframe_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "_BIG_PATH_KNEE", 0)
    spark.catalog.clearCache()
    call, pairs = _steps_then_result(
        spark, lambda: getattr(dd, op)(planted, "doc_id", "text", n=3, threshold=0.8)
    )
    assert list(call["steps"]) == steps
    assert pairs == {(i, 100 + i) for i in range(10)}


def test_vector_operator_steps(spark):
    """k-means, semdedup (flat and two-level) and pagerank tag their
    fit, probe, setup and iteration jobs."""
    import numpy as np

    from dataframe_spark.operators import similarity as sim
    from dataframe_spark.operators.graph import pagerank

    rng = np.random.RandomState(0)
    rows = [(i, (rng.randn(8) + 4 * (i % 3)).tolist()) for i in range(120)]
    emb = spark.createDataFrame(rows, "id long, embedding array<double>")
    fit = [f"kmeans_fit:{s}" for s in ("init", "iter1", "iter2")]
    _, prof = profile_call(
        spark, lambda: sim.semdedup(emb, "id", "embedding", k=3, max_iter=2)
    )
    assert list(prof["steps"]) == fit + ["semdedup:sizes"]
    # two-level (k1 = 9 coarse centroids): nothing eager after the fit
    _, prof = profile_call(
        spark, lambda: sim.semdedup(emb, "id", "embedding", k=65, max_iter=2)
    )
    assert list(prof["steps"]) == fit
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    _, prof = profile_call(spark, lambda: pagerank(edges, iters=2))
    assert list(prof["steps"]) == ["pagerank:setup", "pagerank:iter1", "pagerank:iter2"]
    assert _library_tags(spark) == []


def test_no_library_tag_outlives_a_failing_step(spark):
    """A step that raises still removes its tag."""
    from dataframe_spark.operators.graph import pagerank

    dangling = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with pytest.raises(ValueError, match="no out-edges"):
        pagerank(dangling, iters=2)
    assert _library_tags(spark) == []
