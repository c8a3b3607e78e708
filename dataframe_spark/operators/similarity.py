"""Similarity search over embedding columns (array<float>).

LLM-pipeline extension (no reference analogue). The JVM expressions
``dot``, ``norm`` and ``cosine`` (double precision, summed
sequentially) define every similarity here. The all-pairs operators
share one pair rule: a and b link iff ``cosine(a, b) >= t`` (semdedup)
or ``round(cosine(a, b), 4) >= t`` (cosine_pairs and
bucketed_cosine_pairs, which report that value), as the expression
join decides: a NULL id, vector or element or a zero norm never links,
and an overflowing norm links with a NaN cosine (Spark orders NaN
above every double). They share one Arrow GEMM tile kernel,
:func:`_cosine_tiles`. The LSH variant buckets by random-hyperplane
signs so the candidate set per query is a bucket, not the corpus.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F

from ..plans.trace import stage


def _dvec(c) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(_dvec(a), _dvec(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(_dvec(a), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a, b) -> Column:
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


# cosine_pairs broadcasts the whole corpus matrix while the input
# plan's size estimate is at most this (Spark's broadcast-join test);
# above it the pairs run through bucketed_cosine_pairs.
COSINE_BROADCAST_MAX_BYTES = 64 * 1024 * 1024
# bucketed_cosine_pairs splits buckets above _MAX_CLUSTER_ROWS into
# sub-block tiles and runs each GEMM _BLOCK_ROWS rows high, so a task
# holds two sub-blocks plus one _BLOCK_ROWS x _MAX_CLUSTER_ROWS sims
# tile. semdedup's fused pass holds one whole cluster per task and
# sends larger clusters the distributed route, with the same tiles.
_MAX_CLUSTER_ROWS = 32768
_BLOCK_ROWS = 2048
# GEMM on unit rows and the expressions' sequential dot / (na·nb)
# differ by at most ~(d + 3)·2^-52 for rows whose norms lie in
# _NORM_RANGE (product and quotient stay finite and normal), so a pair
# whose GEMM value lies more than _BOUNDARY_EPS from every decision
# boundary cannot flip for any dim below ~10^6. The others, and every
# pair of a row outside the range (zero, huge, NaN or inf norms), are
# decided with the expressions' own arithmetic.
_BOUNDARY_EPS = 1e-9
_NORM_RANGE = (1e-100, 1e100)


def _seq_dot(A, B):
    """Row-wise dot products summed left to right from 0.0 — the
    order ``dot``'s aggregate() folds in, so the doubles are
    bit-identical to the expression's."""
    acc = np.zeros(A.shape[0])
    for k in range(A.shape[1]):
        acc += A[:, k] * B[:, k]
    return acc


def _round4(s):
    """Spark's ``round(s, 4)``: HALF_UP on the double's decimal form,
    so |s| rounds away from zero from the double nearest each midpoint
    (k + 0.5)/1e4 on, where numpy's binary rounding can fall short."""
    k = np.round(s * 1e4)
    a, ak = np.abs(s), np.abs(k)
    k += np.sign(s) * ((a >= (ak + 0.5) / 1e4) * 1.0 - (a < (ak - 0.5) / 1e4))
    return k / 1e4 + 0.0  # a decimal has no -0.0


def _int_ids(col):
    """Integral Arrow ids as int64 numpy (a NULL, never live, reads 0)."""
    return np.asarray(pc.fill_null(col, 0), dtype="int64")


def _read_matrix(vecs):
    """``(V, valid)`` of an Arrow ``list<double>`` (or ``list<float>``)
    column: the float64 matrix (NULL elements read NaN, NULL vectors
    0.0) and the element-valid mask (False on a NULL element or
    vector)."""
    ok = np.asarray(pc.is_valid(vecs))
    lens = pc.list_value_length(vecs).drop_null().to_numpy()
    d = int(lens[0]) if len(lens) else 0
    if (lens != d).any():
        raise ValueError("embeddings must all have one length")
    flat = pc.list_flatten(vecs)  # a NULL vector has no elements
    V, valid = np.zeros((len(ok), d)), np.zeros((len(ok), d), dtype=bool)
    if d:
        V[ok] = np.asarray(flat).reshape(-1, d)
        valid[ok] = np.asarray(pc.is_valid(flat)).reshape(-1, d)
    return V, valid


def _read_rows(ids, vecs):
    """``(V, nrm, live)`` of Arrow id and vector columns
    (:func:`_read_matrix`): the float64 matrix, the sequential norms,
    and False where the id, the vector or an element is NULL (a NULL
    cosine: never a pair)."""
    V, valid = _read_matrix(vecs)
    live = np.asarray(pc.is_valid(vecs)) & np.asarray(pc.is_valid(ids))
    live &= valid.all(axis=1)
    with np.errstate(all="ignore"):
        return V, np.sqrt(_seq_dot(V, V)), live


def _seq_cosine(a, i, b, j):
    """The expressions' ``dot / nullif(na·nb, 0)`` on row pairs (i, j)
    of sides a and b, and False where it is NULL (a zero product)."""
    (VA, na, _), (VB, nb, _) = a, b
    with np.errstate(all="ignore"):
        p = na[i] * nb[j]
        return _seq_dot(VA[i], VB[j]) / p, p != 0


def _cosine_tiles(a, b, threshold, rounded, block_rows):
    """Yield ``(i, j, cosine)`` arrays of the row pairs of sides ``a``
    and ``b`` (:func:`_read_rows`; ``b=None`` pairs ``a`` with itself,
    i < j) that the module's pair rule links, on ``round(cosine, 4)``
    (then the value reported) when ``rounded``.

    Rows with norms in _NORM_RANGE are scored as GEMM tiles of
    ``block_rows`` (the caller's _BLOCK_ROWS) unit rows, upper triangle
    only on the diagonal. Pairs whose GEMM value lies within
    _BOUNDARY_EPS of a decision boundary (``threshold``; when rounded,
    every 4dp rounding midpoint, which covers it) and every pair of a
    row outside the range are decided with the expressions' arithmetic."""
    same = b is None
    b = a if same else b
    lo_n, hi_n = _NORM_RANGE
    reg_a = a[2] & (a[1] >= lo_n) & (a[1] <= hi_n)
    reg_b = reg_a if same else b[2] & (b[1] >= lo_n) & (b[1] <= hi_n)
    Ra, Rb = np.flatnonzero(reg_a), np.flatnonzero(reg_b)
    UA = a[0][Ra] / a[1][Ra, None]
    UB = UA if same else b[0][Rb] / b[1][Rb, None]
    floor = threshold - (5e-5 if rounded else 0.0) - _BOUNDARY_EPS

    def linked(i, j, s, valid=True):
        if rounded:
            s = _round4(s)
        ok = valid & ((s >= threshold) | np.isnan(s))
        return i[ok], j[ok], s[ok]

    for lo in range(0, len(Ra), block_rows):
        top = lo if same else 0
        S = UA[lo : lo + block_rows] @ UB[top:].T
        if same:
            h = S.shape[0]
            S[:, :h][np.tril_indices(h)] = -np.inf  # upper triangle only
        r, c = np.nonzero(S >= floor)
        i, j, s = Ra[lo + r], Rb[top + c], S[r, c]
        if rounded:  # distance to the nearest rounding midpoint
            gap = np.abs(s * 1e4 % 1 - 0.5) / 1e4
        else:
            gap = np.abs(s - threshold)
        near = gap < _BOUNDARY_EPS
        if near.any():
            s[near] = _seq_cosine(a, i[near], b, j[near])[0]
        yield linked(i, j, s)
    # a row outside the range pairs with every live row of the other
    # side (on the diagonal: every regular row and every later odd one)
    later = np.arange(len(b[2]))
    for x in np.flatnonzero(a[2] & ~reg_a):
        j = np.flatnonzero(reg_b | (b[2] & (later > x)) if same else b[2])
        i = np.full(len(j), x)
        yield linked(i, j, *_seq_cosine(a, i, b, j))
    for y in [] if same else np.flatnonzero(b[2] & ~reg_b):
        j = np.full(len(Ra), y)
        yield linked(Ra, j, *_seq_cosine(a, Ra, b, j))


def _check_int_ids(df, id_col, fn):
    id_type = dict(df.dtypes)[id_col]
    if id_type not in ("int", "bigint", "smallint", "tinyint"):
        raise TypeError(
            f"{fn} needs an integral id column, got {id_col}: {id_type}; "
            "hash string ids to longs first (e.g. xxhash64)"
        )


def cosine_pairs(
    df: SparkDF,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
) -> SparkDF:
    """All pairs ``(a_id, b_id, cosine)`` linked by the module's pair
    rule at ``threshold``, ``cosine`` being the rounded value.

    When the corpus fits a broadcast (plan size estimate <=
    COSINE_BROADCAST_MAX_BYTES, the same PLAN-side test a broadcast
    join uses — no eager count job), the whole matrix ships to every
    task and one shuffle-free mapInArrow scan multiplies each batch
    against it. Otherwise every row goes into ONE bucket of
    :func:`bucketed_cosine_pairs`, whose sub-block tiles bound each
    task's memory at any corpus size. This is the exact baseline; LSH
    bucketing (knn_lsh) is the sub-quadratic scale path.

    ``id_col`` must be integral: both paths carry ids through int64
    numpy arrays, and a string id would crash one path and silently
    empty the other (review r5)."""
    from ..plans.stats import plan_size_bytes

    _check_int_ids(df, id_col, "cosine_pairs")
    spark = df.sparkSession
    est = plan_size_bytes(df)
    parallelism = spark.sparkContext.defaultParallelism
    if est > COSINE_BROADCAST_MAX_BYTES:
        # the fewest id-hash sub-blocks s whose s(s+1)/2 tiles fill
        # the cores the broadcast scan spreads over
        s = (math.isqrt(8 * parallelism) + 1) // 2
        one = df.withColumn("__one", F.lit(0))
        return _tile_pairs(one, id_col, vec_col, "__one", threshold, True, s)
    corpus = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")).toArrow()
    bc = spark.sparkContext.broadcast(
        (_int_ids(corpus["id"]), _read_rows(corpus["id"], corpus["vec"]))
    )
    block_rows = _BLOCK_ROWS

    def scan(batches):
        b_ids, b = bc.value
        for batch in batches:
            a_ids = _int_ids(batch.column("id"))
            a = _read_rows(batch.column("id"), batch.column("vec"))
            for i, j, s in _cosine_tiles(a, b, threshold, True, block_rows):
                # emit from the smaller-id side only: each unordered
                # pair appears in exactly one batch row's output
                keep = a_ids[i] < b_ids[j]
                yield pa.record_batch(
                    {"a_id": a_ids[i][keep], "b_id": b_ids[j][keep], "cosine": s[keep]}
                )

    src = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).repartition(max(2, min(parallelism, (est >> 15) + 1)))
    return src.mapInArrow(scan, "a_id long, b_id long, cosine double")


def bucketed_cosine_pairs(
    df: SparkDF,
    id_col: str,
    vec_col: str,
    bucket_col: str,
    threshold: float = 0.9,
) -> SparkDF:
    """:func:`cosine_pairs`' rows among pairs that share a non-NULL
    ``bucket_col`` value (an equijoin, so NULL never matches NULL),
    one grouped Arrow task per bucket: the cluster-then-pair contract.
    After any coarse grouping (k-means cell, LSH bucket, planted
    label), candidate work is the sum of squared BUCKET sizes, never
    corpus², and each bucket's math is a dense matmul instead of
    per-pair JVM expression evaluation (measured ~50x on 256-dim
    floats).

    Per-task memory is bounded: a bucket larger than _MAX_CLUSTER_ROWS
    is split into s = ceil(n / _MAX_CLUSTER_ROWS) id-hash sub-blocks,
    and every sub-block PAIR (i <= j) becomes its own task — the
    a-side row replicates to tiles (blk..s-1), the b-side to
    (0..blk-1), so each unordered pair lands in exactly one tile. A
    task therefore holds at most two sub-blocks plus one _BLOCK_ROWS ×
    _MAX_CLUSTER_ROWS sims tile, whatever the bucket size. Oversize
    detection is one bucket-keyed count agg whose over-limit survivors
    broadcast; small buckets stay one task with one copy of each row.
    ``id_col`` must be integral (the cosine_pairs rule)."""
    _check_int_ids(df, id_col, "bucketed_cosine_pairs")
    return _tile_pairs(df, id_col, vec_col, bucket_col, threshold, True)


def _tile_pairs(df, id_col, vec_col, bucket_col, threshold, rounded, min_blocks=1):
    """bucketed_cosine_pairs' sub-block fan-out and grouped tiles;
    ``rounded=False`` links and reports raw cosines (semdedup's
    oversized route). Every bucket splits into at least
    ``min_blocks`` sub-blocks (cosine_pairs' one bucket)."""
    block_rows, max_bucket_rows = _BLOCK_ROWS, _MAX_CLUSTER_ROWS
    src = df.where(F.col(bucket_col).isNotNull()).select(
        F.col(bucket_col).alias("__bkt"),
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    blocks, split_above = F.ceil(F.col("__n") / F.lit(max_bucket_rows)), max_bucket_rows
    if min_blocks > 1:  # every bucket splits
        blocks, split_above = F.greatest(blocks, F.lit(min_blocks)), 0
    oversized = (
        src.groupBy("__bkt")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > split_above)
        .select("__bkt", blocks.cast("int").alias("__s"))
    )
    sized = src.join(F.broadcast(oversized), "__bkt", "left").select(
        "__bkt",
        "id",
        "vec",
        F.coalesce("__s", F.lit(1)).alias("__s"),
        # hash-split, not pmod(id): structured ids (all-even, strided)
        # would skew raw residues; the split is perf-only either way
        F.pmod(F.xxhash64("id"), F.coalesce("__s", F.lit(1)))
        .cast("int")
        .alias("__blk"),
    )
    a_side = sized.select(
        "__bkt",
        F.col("__blk").alias("bi"),
        F.explode(
            F.sequence(F.col("__blk"), F.col("__s") - F.lit(1))
        ).alias("bj"),
        F.lit("a").alias("role"),
        "id",
        "vec",
    )
    b_side = sized.where(F.col("__blk") > 0).select(
        "__bkt",
        F.explode(
            F.sequence(F.lit(0), F.col("__blk") - F.lit(1))
        ).alias("bi"),
        F.col("__blk").alias("bj"),
        F.lit("b").alias("role"),
        "id",
        "vec",
    )
    tagged = a_side.unionByName(b_side)

    def tile(key, table):
        # diagonal is decided by the KEY, never by which roles showed
        # up: a cross tile whose b-block hashed empty must yield
        # nothing, not replay the a-block's diagonal
        a = table.filter(pc.equal(table["role"], "a"))
        b = a if key[1].as_py() == key[2].as_py() else (
            table.filter(pc.equal(table["role"], "b"))
        )
        a_ids, b_ids = _int_ids(a["id"]), _int_ids(b["id"])
        found = [(np.empty(0, "int64"), np.empty(0, "int64"), np.empty(0))]
        tiles = ()
        if a.num_rows and b.num_rows:  # a block may hash empty
            tiles = _cosine_tiles(
                _read_rows(a["id"], a["vec"]),
                None if b is a else _read_rows(b["id"], b["vec"]),
                threshold,
                rounded,
                block_rows,
            )
        for i, j, s in tiles:
            found.append((a_ids[i], b_ids[j], s))
        ida, idb, s = map(np.concatenate, zip(*found))
        # each unordered pair once, in arbitrary id order: normalize
        # to (lo, hi) and drop pairs of rows sharing an id
        keep = ida != idb
        return pa.table(
            {
                "a_id": np.minimum(ida, idb)[keep],
                "b_id": np.maximum(ida, idb)[keep],
                "cosine": s[keep],
            }
        )

    return tagged.groupBy("__bkt", "bi", "bj").applyInArrow(
        tile, "a_id long, b_id long, cosine double"
    )


def knn_brute(
    df: SparkDF, id_col: str, vec_col: str, query_id: int, k: int = 10
) -> SparkDF:
    """Top-k most-similar rows to ``query_id`` by cosine.

    The query vector is a broadcast one-row plan; scoring is a
    map-only stage over the corpus, then a global top-k (Spark's
    TakeOrderedAndProject — no full sort shuffle)."""
    q = df.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qv")
    )
    return (
        df.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != query_id)
        .withColumn("cosine", F.round(cosine(F.col(vec_col), F.col("__qv")), 4))
        .select(F.col(id_col), "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def hyperplane_sketch(
    vec_col, planes: int = 8, dim: int | None = None
) -> Column:
    """Sign-sketch of a vector against ``planes`` pseudo-random
    hyperplanes derived from xxhash64(plane, dim-index) — fully
    deterministic, no stored model. Returns an int bucket id.

    ``dim=None`` (default since r8) sizes the planes to each row's
    own vector (``size(v)``), so the sketch works at any embedding
    width — the plane component for index i depends only on
    (plane, i), so fixed-width corpora keep their historic buckets
    (the r7 default dim=64 pinned the width and hard-errored on the
    256-dim scaled corpora). Passing an explicit ``dim`` keeps the
    r5 guard: zip_with pads a mismatched vector with nulls, which
    null-poisons every projection and silently collapsed EVERY row
    into bucket 0 — LSH then scans the full corpus with no signal
    that the dim was wrong. The guard raises lazily at execution."""
    v0 = _dvec(vec_col)
    if dim is None:
        v = v0
        idx_hi = F.size(v0) - 1
    else:
        v = F.when(
            F.size(v0) != dim,
            F.raise_error(
                F.concat(
                    F.lit(f"hyperplane_sketch: dim={dim} but vector has "),
                    F.size(v0).cast("string"),
                    F.lit(" elements"),
                )
            ).cast("array<double>"),
        ).otherwise(v0)
        idx_hi = F.lit(dim - 1)
    degenerate = None
    if dim is None:
        # With per-row sizing there is no dim guard to raise, so an
        # empty vector (or one poisoned by a null element) would
        # project to null on every plane and silently pool in bucket
        # 0 — the exact collapse the r5 explicit-dim guard prevents.
        # Null the bucket instead so such rows drop out of LSH.
        degenerate = (F.size(v0) <= 0) | F.exists(
            v0, lambda x: x.isNull()
        )
    bits = []
    for p in range(planes):
        # plane component for dim i: hash to [-1, 1)
        proj = F.aggregate(
            F.zip_with(
                v,
                F.transform(
                    F.sequence(F.lit(0), idx_hi),
                    lambda i: (
                        F.pmod(F.xxhash64(F.lit(p), i), F.lit(2001)) - 1000
                    ).cast("double")
                    / 1000.0,
                ),
                lambda x, h: x * h,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    if degenerate is not None:
        out = F.when(~degenerate, out)
    return out


def _unit_rows(M):
    """Row-normalize a matrix with the shared 1e-12 zero floor."""
    return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)


def _assign(V, C_unit, S_unit=None):
    """Nearest-centroid ids of float64 rows ``V``: the argmax of each
    unit row against the unit codebook ``C_unit`` (first index on
    ties, so a zero row or one with a NaN element takes centroid 0).
    With the (k1, k2, dim) sub-codebooks ``S_unit`` the id is
    coarse·k2 + the argmax against that coarse cluster's block:
    n·(k1 + k2)·d work instead of n·k·d."""
    U = _unit_rows(V)
    cid = np.argmax(U @ C_unit.T, axis=1)
    if S_unit is None:
        return cid
    sub = np.zeros_like(cid)
    for c in np.unique(cid):
        m = cid == c
        sub[m] = np.argmax(U[m] @ S_unit[c].T, axis=1)
    return cid * S_unit.shape[1] + sub


def _assign_udf(C_unit, S_unit=None):
    """The one assignment column every k-means/IVF path shares:
    :func:`_assign` per Arrow batch against a broadcast codebook."""

    @F.arrow_udf("int")
    def assign(vecs: pa.Array) -> pa.Array:
        return pa.array(_assign(_read_matrix(vecs)[0], C_unit, S_unit), pa.int32())

    return assign


def _lloyd_step(V, valid, C_unit, acc=None):
    """One Lloyd assignment of rows ``V`` (:func:`_read_matrix`)
    against ``C_unit``, added onto ``acc`` (an earlier return): a
    (k, 2·dim + 1) array holding each cluster's per-position sums and
    non-NULL counts, then its row count. Sums run row by row from 0.0
    and skip NULL elements, the order in which Spark's ``avg`` adds up
    a partition."""
    k, d = C_unit.shape
    acc = np.zeros((k, 2 * d + 1)) if acc is None else acc
    cid = _assign(V, C_unit)
    X = np.hstack([np.where(valid, V, 0.0), valid, np.ones((len(V), 1))])
    ends = np.cumsum(np.bincount(cid, minlength=k))[:-1]
    for j, rows in enumerate(np.split(np.argsort(cid, kind="stable"), ends)):
        if len(rows):
            acc[j] = np.add.reduce(np.vstack([acc[j], X[rows]]))
    return acc


def _lloyd_update(C, acc):
    """Move each centroid of ``C`` with rows (:func:`_lloyd_step`) to
    its rows' mean, NaN where a position is NULL in all of them; a
    cluster without rows keeps its centroid."""
    d, hit = C.shape[1], acc[:, -1] > 0
    with np.errstate(invalid="ignore"):
        C[hit] = (acc[:, :d] / acc[:, d:-1])[hit]


def _rank_probes(C_unit, qv, nprobe):
    """The nprobe list ids nearest a query vector (cosine)."""
    qn = np.asarray(qv, dtype="float64")
    qn = qn / max(np.linalg.norm(qn), 1e-12)
    return [int(c) for c in np.argsort(-(C_unit @ qn))[:nprobe]]


def kmeans_fit(
    df: SparkDF,
    id_col: str,
    vec_col: str,
    k: int = 16,
    max_iter: int = 5,
    seed: int = 42,
):
    """Distributed Lloyd k-means over an embedding column; returns a
    (k, dim) numpy centroid matrix (the model — k×dim floats of
    driver state, like any fitted model). Rows without an embedding
    do not participate.

    Init is deterministic: the k rows with the smallest
    xxhash64(id, seed). Each iteration is ONE shuffle-free mapInArrow
    pass: every partition runs :func:`_lloyd_step` over its batches
    and yields one row of k×dim sums and counts, which the driver adds
    up in partition order. Rows never reach the driver. The init and
    the iterations run as the job-tagged steps ``kmeans_fit:init`` and
    ``kmeans_fit:iter<i>`` (``plans.trace``).

    Contract (shared with :func:`kmeans_fit_hierarchical`): the fit is
    deterministic for a fixed partitioning; NULL elements are skipped
    position by position (a position NULL in every row of a cluster
    becomes NaN, as Spark's ``avg`` gives NULL); a cluster with no
    rows keeps its centroid."""
    vecs = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), _dvec(vec_col).alias("vec")
    )
    with stage("kmeans_fit", "init"):
        init = (
            vecs.orderBy(F.xxhash64(F.col("id"), F.lit(seed)), F.col("id"))
            .limit(k)
            .toArrow()
        )
    if not init.num_rows:
        raise ValueError("kmeans_fit: no non-null vectors")
    C = _read_matrix(init["vec"])[0]
    k, d = C.shape

    for it in range(max_iter):
        C_unit = _unit_rows(C)

        def partials(batches, C_unit=C_unit):
            acc = None
            for batch in batches:
                acc = _lloyd_step(*_read_matrix(batch.column("vec")), C_unit, acc)
            if acc is not None:
                yield pa.record_batch({"acc": pa.array([acc.ravel()])})

        with stage("kmeans_fit", f"iter{it + 1}"):
            parts = vecs.select("vec").mapInArrow(partials, "acc array<double>").toArrow()
        parts = np.asarray(pc.list_flatten(parts["acc"])).reshape(-1, k, 2 * d + 1)
        # added up as Spark merges avg partials: 0.0 + p1 + p2 + ...
        _lloyd_update(C, np.add.reduce(np.vstack([np.zeros((1, k, 2 * d + 1)), parts])))
    return C


HIER_KMEANS_MIN_K = 64


def kmeans_fit_hierarchical(
    df: SparkDF,
    id_col: str,
    vec_col: str,
    k: int = 256,
    max_iter: int = 3,
    seed: int = 42,
):
    """Two-level Lloyd k-means for LARGE k: fit k1 = ceil(sqrt(k))
    coarse centroids with the flat fitter, assign once, then fit
    k2 = ceil(k/k1) sub-centroids INSIDE each coarse cluster in one
    grouped Arrow pass (:func:`_lloyd_step` on the group). Returns
    ``(C1_unit, S_unit)`` where C1_unit is (k1, dim) and S_unit is
    (k1, k2, dim); a row's cluster id is ``coarse * k2 + sub``
    (:func:`_assign` with both codebooks).

    Why: flat Lloyd assignment is n·k·d work per pass, and SemDeDup
    sets k ∝ n, so the flat fit is O(n²·d); two levels cut fit AND
    assignment to n·2·sqrt(k)·d = O(n^1.5·d).

    Contract: :func:`kmeans_fit`'s. Each sub-fit sorts its group by a
    Spark-computed xxhash64(id, seed), then id, seeds from the first
    k2 rows and runs a fixed iteration count, so it does not depend
    on the order rows arrive in. Short groups fit fewer
    sub-centroids and PAD the codebook by repeating their first row —
    a padded duplicate can never win an argmax tie against its
    earlier original, so padded ids are unreachable. Empty coarse
    clusters keep zero sub-codebooks: no row is assigned to them."""
    k1 = max(2, math.isqrt(max(1, k - 1)) + 1)  # ceil(sqrt(k))
    k2 = max(1, -(-k // k1))  # ceil(k / k1)
    C1u = _unit_rows(kmeans_fit(df, id_col, vec_col, k=k1, max_iter=max_iter, seed=seed))
    dim = C1u.shape[1]
    vecs = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), _dvec(vec_col).alias("vec"))
        .withColumn("__h", F.xxhash64(F.col("id"), F.lit(seed)))
        .withColumn("__coarse", _assign_udf(C1u)(F.col("vec")))
    )

    def fit_group(table):
        t = table.sort_by([("__h", "ascending"), ("id", "ascending")])
        V, valid = _read_matrix(t["vec"])
        C = V[:k2].copy()
        for _ in range(max_iter):
            _lloyd_update(C, _lloyd_step(V, valid, _unit_rows(C)))
        C = C[np.where(np.arange(k2) < len(C), np.arange(k2), 0)]  # the pad
        return pa.table({"coarse": t["__coarse"][:1], "subs": pa.array([C.ravel()])})

    fits = vecs.groupBy("__coarse").applyInArrow(fit_group, "coarse int, subs array<double>")
    with stage("kmeans_fit_hierarchical", "subfit"):
        fits = fits.toArrow()
    S = np.zeros((k1, k2, dim))
    S[fits["coarse"].to_numpy()] = np.asarray(pc.list_flatten(fits["subs"])).reshape(-1, k2, dim)
    Su = S / np.maximum(np.linalg.norm(S, axis=2, keepdims=True), 1e-12)
    return C1u, Su


def knn_ivf(
    df: SparkDF,
    id_col: str,
    vec_col: str,
    query_id: int,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    max_iter: int = 5,
    centroids=None,
) -> SparkDF:
    """IVF approximate top-k: k-means-partition the corpus into
    ``nlist`` inverted lists, score only the ``nprobe`` lists whose
    centroids are nearest the query.

    The scale shape: the list id is a precomputable partition column
    (write the corpus bucketed by ``__cid`` and a query reads
    nprobe/nlist of the data); probing is a broadcast semi-join, the
    final top-k is TakeOrderedAndProject. Recall/latency trades via
    nprobe exactly as in FAISS-style IVF-Flat."""
    # rows without an embedding can't be neighbors (the kmeans_fit
    # and semdedup contract)
    df = df.where(F.col(vec_col).isNotNull())
    if centroids is None:
        centroids = kmeans_fit(
            df, id_col, vec_col, k=nlist, max_iter=max_iter
        )
    C = _unit_rows(centroids)
    sketched = df.withColumn("__cid", _assign_udf(C)(_dvec(vec_col)))
    q = df.where(F.col(id_col) == query_id).select(
        _dvec(vec_col).alias("__qv")
    )
    probes = _rank_probes(C, q.first()["__qv"], nprobe)
    return (
        sketched.where(F.col("__cid").isin(probes))
        .crossJoin(F.broadcast(q))
        .where(F.col(id_col) != query_id)
        .withColumn("cosine", F.round(cosine(F.col(vec_col), F.col("__qv")), 4))
        .select(F.col(id_col), "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def build_ivf_index(
    df: SparkDF,
    id_col: str,
    vec_col: str,
    index_dir: str,
    nlist: int = 16,
    max_iter: int = 5,
) -> None:
    """Build and PERSIST an IVF index — the 'index once, query many'
    serving shape knn_ivf's docstring promises: the corpus is
    written partitioned by its inverted-list id (one Hive partition
    per list, so a query's nprobe lists are pruned at the FILE level
    before any IO) alongside a codebook of the k-means centroids
    (nlist x dim — the same bounded model state kmeans_fit holds).
    Rebuild to refresh; queries never re-cluster."""
    df = df.where(F.col(vec_col).isNotNull())  # see knn_ivf
    centroids = kmeans_fit(df, id_col, vec_col, k=nlist, max_iter=max_iter)
    (
        df.withColumn(
            "__cid", _assign_udf(_unit_rows(centroids))(_dvec(vec_col))
        )
        .write.mode("overwrite")
        .partitionBy("__cid")
        .parquet(f"{index_dir}/lists")
    )
    spark = df.sparkSession
    rows = [(i, [float(x) for x in centroids[i]]) for i in range(len(centroids))]
    (
        spark.createDataFrame(rows, "cid int, centroid array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{index_dir}/codebook")
    )


def query_ivf_index(
    spark,
    index_dir: str,
    query_vec,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nprobe: int = 4,
) -> SparkDF:
    """Serve a top-k query from a persisted IVF index: rank the
    codebook (tiny) on the driver, then scan ONLY the ``nprobe``
    nearest lists — the `__cid` filter is a Hive partition predicate,
    so pruning happens before any file is opened. Scoring is the
    JVM cosine + TakeOrderedAndProject."""
    book = spark.read.parquet(f"{index_dir}/codebook").orderBy("cid").toArrow()
    C = _unit_rows(_read_matrix(book["centroid"])[0])
    qv = np.asarray(list(query_vec), dtype="float64")
    probes = _rank_probes(C, qv, nprobe)
    lists = spark.read.parquet(f"{index_dir}/lists")
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    return (
        lists.where(F.col("__cid").isin(probes))
        .withColumn("cosine", F.round(cosine(F.col(vec_col), qlit), 4))
        .select(F.col(id_col), "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def knn_lsh(
    df: SparkDF,
    id_col: str,
    vec_col: str,
    query_id: int,
    k: int = 10,
    planes: int = 6,
    dim: int | None = None,
    probe_radius: int = 0,
) -> SparkDF:
    """Approximate top-k: score only rows in the query's hyperplane
    bucket — or, with MULTIPROBE (``probe_radius`` > 0, the Lv et
    al. VLDB'07 idea), in every bucket within that hamming distance
    of it. A true near neighbor differs from the query on few
    hyperplane signs, so probing radius-1 buckets recovers most of
    what single-bucket LSH loses while still scoring only
    sum_{i<=r} C(planes, i)/2^planes of the corpus (planes=4, r=1:
    5/16). The bucket predicate is a one-row broadcast
    nested-loop — a per-row bit_count, no hash probe. At 100 TB the
    bucket column is precomputed/partitioned so a query touches
    only the probed partitions."""
    sketched = df.withColumn(
        "__bucket", hyperplane_sketch(F.col(vec_col), planes, dim)
    )
    q = sketched.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qv"), F.col("__bucket").alias("__qb")
    )
    hamming = F.bit_count(
        F.col("__bucket").bitwiseXOR(F.col("__qb"))
    )
    return (
        sketched.join(F.broadcast(q), hamming <= probe_radius)
        .where(F.col(id_col) != query_id)
        .withColumn("cosine", F.round(cosine(F.col(vec_col), F.col("__qv")), 4))
        .select(F.col(id_col), "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )




def _min_labels(lab, u, v):
    """Fold edges (u, v) into ``lab``, a star forest over node indices
    (lab[x] <= x, lab[lab] == lab): hook the larger root of every
    unmerged edge onto the smaller, then pointer-jump back to stars,
    until every edge sits inside one star. Each component ends up
    labelled by its smallest node index."""
    while True:
        lu, lv = lab[u], lab[v]
        split = lu != lv
        if not split.any():
            return lab
        lu, lv = lu[split], lv[split]
        low = np.minimum(lu, lv)
        np.minimum.at(lab, lu, low)
        np.minimum.at(lab, lv, low)
        while True:
            up = lab[lab]
            if np.array_equal(up, lab):
                break
            lab = up


def _fused_keep(tau):
    """Grouped Arrow kernel: one cluster's (id, __v, __cid) rows in,
    (id, cluster, keep) out. Rows are sorted by id and rows sharing an
    id are one node, so node order is id order and a component's
    smallest node is its smallest id — the survivor. Edges are the
    cosine kernel's raw links at tau."""
    block_rows = _BLOCK_ROWS

    def run(table):
        t = table.take(pc.sort_indices(table["id"], null_placement="at_end"))
        ids = t["id"].combine_chunks()
        n = len(ids)
        # ids are NULL last: a NULL id is never live, so never links
        m = n - ids.null_count
        node = np.zeros(n, dtype="int64")
        if m > 1:
            same = pc.equal(ids[1:m], ids[: m - 1]).to_numpy(zero_copy_only=False)
            node[1:m] = np.cumsum(~same)
        lab = np.arange(int(node[m - 1]) + 1 if m else 0)
        side = _read_rows(ids, t["__v"])
        for i, j, _ in _cosine_tiles(side, None, tau, False, block_rows):
            lab = _min_labels(lab, node[i], node[j])
        keep = np.zeros(n, dtype=bool)
        keep[:m] = lab[node[:m]] == node[:m]
        return pa.table(
            {
                "id": ids,
                "cluster": t["__cid"],
                "keep": pa.array(keep, mask=np.arange(n) >= m),
            }
        )

    return run


def _oversized_keep(rows: SparkDF, tau: float) -> SparkDF:
    """The distributed route for clusters one task cannot hold: the
    raw links at tau of bucketed_cosine_pairs' sub-block tiles (the
    fused pass's kernel), then connected_components. Node keys are
    (cluster << 32) + dense_rank(id) — integral, unique per (cluster,
    id) and ordered like the ids inside a cluster, so the min-key
    survivor is the min-id one and string ids work too."""
    from pyspark.sql import Window

    from ..plans.cache import try_persist
    from .graph import connected_components

    nodes = try_persist(
        rows.where(F.col("id").isNotNull()).withColumn(
            "__k",
            F.shiftleft(F.col("__cid").cast("long"), 32)
            + F.dense_rank().over(Window.partitionBy("__cid").orderBy("id")),
        )
    )
    # persisted: connected_components reads its edges several times
    edges = try_persist(
        _tile_pairs(nodes, "__k", "__v", "__cid", tau, False).select("a_id", "b_id")
    )
    comp = connected_components(edges, "a_id", "b_id")
    kept = nodes.join(comp, nodes["__k"] == comp["node"], "left").select(
        "id",
        F.col("__cid").alias("cluster"),
        (F.coalesce("component", "__k") == F.col("__k")).alias("keep"),
    )
    return kept.unionByName(
        rows.where(F.col("id").isNull()).select(
            "id",
            F.col("__cid").alias("cluster"),
            F.lit(None).cast("boolean").alias("keep"),
        )
    )


def semdedup(
    df: SparkDF,
    id_col: str,
    vec_col: str,
    k: int = 16,
    tau: float = 0.9,
    max_iter: int = 3,
    seed: int = 42,
    centroids=None,
) -> SparkDF:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-partition the embedding space, then
    within each cluster keep ONE representative per group of
    semantically-near documents (cosine >= ``tau``, closed
    transitively) and mark the rest as drops.

    Output: ``(id, cluster, keep)`` for every input row with a
    non-null embedding — ``keep=false`` marks the semantic
    duplicates a training pipeline filters out. Cross-cluster near
    pairs are NOT considered (the paper's documented approximation;
    that is exactly what makes the method scale).

    Edge contract (exact at every scale): two rows of one cluster link
    by the module's pair rule on the raw cosine, ``cosine(a, b) >=
    tau`` (so a NULL id or element or a zero norm never links, and an
    overflowing norm's NaN does). The survivor of each
    transitively-closed group is its smallest id (the paper keeps the
    member with the LOWEST centroid similarity; min-id is this
    engine's deterministic, tie-stable choice — swap via the returned
    flags if centroid-distance policy is needed). A NULL id gets
    ``keep`` NULL. Ids should be unique; rows sharing an id inside a
    cluster act as one node.

    The 100 TB shape: every duplicate group lies inside one cluster,
    so after the cluster assignment each cluster is ONE grouped Arrow
    task that links its pairs with the module's GEMM tile kernel (every
    pair within 1e-9 of ``tau`` re-decided with the expressions'
    sequential arithmetic; the GEMM/sequential gap is ~d·2^-52, so
    nothing else can flip) and joins components by vectorized label
    propagation. Pair work is the sum of squared CLUSTER sizes —
    bounded by choosing ``k`` proportional to corpus size (the paper's
    setting: 50k clusters for LAION-440M) — never corpus all-pairs.
    Clusters above
    32,768 rows, which one task cannot hold, are found by a k-row size
    probe and take a distributed route (bucketed_cosine_pairs'
    sub-block tiles through the same kernel, connected_components)
    with identical output.

    The model is k x dim driver floats (the IVF codebook's footprint)
    fitted by :func:`kmeans_fit`, or for k > 64 the two-level
    :func:`kmeans_fit_hierarchical`, under their contract; a row with a
    NULL element or a zero vector is assigned cluster 0."""
    from ..plans.cache import try_persist

    if centroids is None and k > HIER_KMEANS_MIN_K:
        # k ∝ corpus (the paper's setting) makes the flat fit and
        # assignment O(n²·d); the two-level codebook is O(n^1.5·d)
        assign = _assign_udf(
            *kmeans_fit_hierarchical(
                df, id_col, vec_col, k=k, max_iter=max_iter, seed=seed
            )
        )
    else:
        if centroids is None:
            centroids = kmeans_fit(
                df, id_col, vec_col, k=k, max_iter=max_iter, seed=seed
            )
        assign = _assign_udf(_unit_rows(centroids))
    # persisted: the size probe below is its first (filling) scan and
    # the per-cluster pass its second — the assign UDF runs once
    sides = try_persist(
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), _dvec(vec_col).alias("__v"))
        .withColumn("__cid", assign(F.col("__v")))
    )
    with stage("semdedup", "sizes"):
        oversized = [
            r["__cid"]
            for r in sides.groupBy("__cid")
            .count()
            .where(F.col("count") > _MAX_CLUSTER_ROWS)
            .collect()
        ]
    schema = f"id {sides.schema['id'].dataType.simpleString()}, cluster int, keep boolean"
    if not oversized:
        return sides.groupBy("__cid").applyInArrow(_fused_keep(tau), schema)
    big = F.col("__cid").isin(oversized)
    return (
        sides.where(~big)
        .groupBy("__cid")
        .applyInArrow(_fused_keep(tau), schema)
        .unionByName(_oversized_keep(sides.where(big), tau))
    )
