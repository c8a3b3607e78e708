"""Similarity search over embedding columns (array<float>).

LLM-pipeline extension (no reference analogue). All math runs
JVM-side via higher-order functions (zip_with / aggregate) in
double precision with sequential summation — deterministic and
engine-portable. The LSH variant buckets by random-hyperplane signs
so the candidate set per query is a bucket, not the corpus.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


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


def cosine_pairs(
    df: SparkDF,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
) -> SparkDF:
    """All pairs (a < b) with cosine >= threshold — broadcast scan or
    bounded GEMM tiles, chosen like Spark's broadcast-join cutover.

    When the corpus fits a broadcast (plan size estimate <=
    COSINE_BROADCAST_MAX_BYTES, the same PLAN-side test a broadcast
    join uses — no eager count job), ship the whole matrix to every
    task and run one shuffle-free mapInPandas scan: each Arrow batch
    is multiplied against the broadcast matrix with one BLAS call,
    emitting only (a < b) pairs. Otherwise every row goes into ONE
    bucket of :func:`bucketed_cosine_pairs`, whose sub-block tiles
    bound each task's memory at any corpus size. Either way the math
    is float64 GEMM rounded to 4dp. This is the exact baseline; LSH
    bucketing (knn_lsh) is the sub-quadratic scale path.

    ``id_col`` must be integral: both paths carry ids through int64
    numpy arrays, and a string id would crash one path and silently
    empty the other (review r5)."""
    id_type = dict(df.dtypes)[id_col]
    if id_type not in ("int", "bigint", "smallint", "tinyint"):
        raise TypeError(
            f"cosine_pairs needs an integral id column, got "
            f"{id_col}: {id_type}; hash string ids to longs first "
            "(e.g. xxhash64)"
        )
    spark = df.sparkSession
    from ..plans.stats import plan_size_bytes

    est = plan_size_bytes(df)
    if est > COSINE_BROADCAST_MAX_BYTES:
        return bucketed_cosine_pairs(
            df.withColumn("__one", F.lit(0)), id_col, vec_col, "__one", threshold
        )
    corpus = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")).toPandas()
    ids = corpus["id"].to_numpy(dtype="int64")
    M = np.stack(corpus["vec"].to_numpy()).astype("float64")
    Mn = np.linalg.norm(M, axis=1)
    bc = spark.sparkContext.broadcast((ids, M, Mn))

    def scan(batches):
        b_ids, b_M, b_Mn = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            A = np.stack(pdf["vec"].to_numpy()).astype("float64")
            a_ids = pdf["id"].to_numpy(dtype="int64")
            sims = (A @ b_M.T) / np.outer(np.linalg.norm(A, axis=1), b_Mn)
            sims = np.round(sims, 4)
            # emit from the smaller-id side only: each unordered
            # pair appears in exactly one batch row's output
            mask = (sims >= threshold) & (a_ids[:, None] < b_ids[None, :])
            ai, bi_ = np.nonzero(mask)
            yield pd.DataFrame(
                {"a_id": a_ids[ai], "b_id": b_ids[bi_], "cosine": sims[ai, bi_]}
            )

    parallelism = spark.sparkContext.defaultParallelism
    src = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).repartition(max(2, min(parallelism, (est >> 15) + 1)))
    return src.mapInPandas(scan, "a_id long, b_id long, cosine double")


def bucketed_cosine_pairs(
    df: SparkDF,
    id_col: str,
    vec_col: str,
    bucket_col: str,
    threshold: float = 0.9,
    round_to: int | None = 4,
) -> SparkDF:
    """Exact all-pairs cosine WITHIN each bucket: (a_id, b_id,
    cosine) for a < b and cosine >= threshold, computed with BLAS
    GEMM tiles per bucket (applyInPandas) — the cluster-then-pair
    contract: after any coarse grouping (k-means cell, LSH bucket,
    planted label), candidate work is the sum of squared BUCKET
    sizes, never corpus², and each bucket's math is a dense matmul
    instead of per-pair JVM expression evaluation (measured ~50x on
    256-dim floats). Rounded to 4dp like cosine_pairs, so the two
    paths agree bit-for-bit on shared pairs.

    NULL buckets are dropped before grouping (r11, ADVICE r10 #1):
    the contract is an equijoin on the bucket key, and SQL equijoins
    never match NULL = NULL — without the filter Spark's groupBy
    would pool every unassigned row into one giant phantom bucket
    and pair them all.

    Per-task memory is BOUNDED (r11, ADVICE r10 #2 — the r10 kernel
    tiled only the sims matrix; the full bucket still materialized
    per task, an OOM cliff for a degenerate mega-bucket): buckets
    larger than _MAX_CLUSTER_ROWS are split into s =
    ceil(n / _MAX_CLUSTER_ROWS) id-hash sub-blocks and every
    sub-block PAIR (i <= j) becomes its own task — the a-side row
    replicates to tiles (blk..s-1), the b-side to (0..blk-1), so each
    unordered pair lands in exactly one tile. A task therefore holds
    at most two sub-blocks (2 × _MAX_CLUSTER_ROWS × dim doubles) plus
    one _BLOCK_ROWS × _MAX_CLUSTER_ROWS sims tile, whatever the
    bucket size; oversize detection is one bucket-keyed count agg
    whose over-limit survivors (≤ corpus/_MAX_CLUSTER_ROWS rows)
    broadcast.
    Small buckets keep the r10 single-task shape: blk = 0, s = 1,
    one a-role copy per row — no duplication, same shuffle volume.
    ``id_col`` must be integral (the cosine_pairs rule: ids ride
    int64 numpy). ``round_to`` (r13): decimal places for the output
    cosine — default 4 keeps the public cosine_pairs-agreement
    contract; ``None`` emits raw float64 sims so a caller can
    threshold on the unrounded value (semdedup's oversized-cluster
    route, which re-decides pairs near its threshold exactly)."""
    id_type = dict(df.dtypes)[id_col]
    if id_type not in ("int", "bigint", "smallint", "tinyint"):
        raise TypeError(
            f"bucketed_cosine_pairs needs an integral id column, got "
            f"{id_col}: {id_type}; hash string ids to longs first"
        )
    block_rows, max_bucket_rows = _BLOCK_ROWS, _MAX_CLUSTER_ROWS
    src = df.where(F.col(bucket_col).isNotNull()).select(
        F.col(bucket_col).alias("__bkt"),
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    oversized = (
        src.groupBy("__bkt")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > max_bucket_rows)
        .select(
            "__bkt",
            F.ceil(F.col("__n") / F.lit(max_bucket_rows))
            .cast("int")
            .alias("__s"),
        )
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

    def tile(key, pdf):
        # diagonal is decided by the KEY, never by which roles showed
        # up: a cross tile whose b-block hashed empty must yield
        # nothing, not replay the a-block's diagonal
        same = key[1] == key[2]
        asub = pdf[pdf.role == "a"]
        bsub = asub if same else pdf[pdf.role == "b"]
        if asub.empty or bsub.empty or (same and len(asub) < 2):
            return pd.DataFrame({"a_id": [], "b_id": [], "cosine": []})
        a_ids = asub["id"].to_numpy(dtype="int64")
        b_ids = bsub["id"].to_numpy(dtype="int64")
        # rows are pre-normalized ONCE per tile (r12, ADVICE r11 #1):
        # the previous per-block (A @ B.T) / np.outer(An, Bn) shape
        # allocated four transient block_rows x |B| float64 arrays
        # per GEMM step (~0.5 GB each at the 2048 x 32768 defaults) —
        # normalizing in place and rounding in place leaves the
        # matmul output as the only per-step allocation, so a task's
        # peak really is two sub-blocks plus one sims tile.
        # Zero-norm rows become nan either way (0/0), so the >=
        # threshold mask is unchanged.
        A_all = np.stack(asub["vec"].to_numpy()).astype("float64")
        A_all /= np.linalg.norm(A_all, axis=1)[:, None]
        if same:
            B = A_all
        else:
            B = np.stack(bsub["vec"].to_numpy()).astype("float64")
            B /= np.linalg.norm(B, axis=1)[:, None]
        outs = []
        for lo in range(0, len(A_all), block_rows):
            A = A_all[lo : lo + block_rows]
            sims = A @ B.T
            if round_to is not None:
                # the public 4dp contract (cosine_pairs agreement);
                # round_to=None keeps raw float64 sims for callers
                # thresholding on the unrounded value
                np.round(sims, round_to, out=sims)
            blk_ids = a_ids[lo : lo + block_rows]
            # cross tiles carry each unordered pair once but in
            # arbitrary id order — normalize to (lo, hi); diagonal
            # tiles emit the upper triangle only
            mask = sims >= threshold
            if same:
                mask &= blk_ids[:, None] < b_ids[None, :]
            ai, bi_ = np.nonzero(mask)
            pa, pb = blk_ids[ai], b_ids[bi_]
            keep = pa != pb
            outs.append(
                pd.DataFrame(
                    {
                        "a_id": np.minimum(pa, pb)[keep],
                        "b_id": np.maximum(pa, pb)[keep],
                        "cosine": sims[ai, bi_][keep],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    return tagged.groupBy("__bkt", "bi", "bj").applyInPandas(
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


def _assign_udf(C_unit):
    """Arrow-batched nearest-centroid assignment against a broadcast
    row-normalized codebook (one BLAS matmul per batch) — the ONE
    definition every k-means/IVF path shares."""

    @pandas_udf("int")
    def assign(s: pd.Series) -> pd.Series:
        A = np.stack(s.to_numpy()).astype("float64")
        An = np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-12)
        return pd.Series(
            np.argmax((A / An) @ C_unit.T, axis=1).astype("int32")
        )

    return assign


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
    driver state, like any fitted model).

    Init is deterministic: the k rows with the smallest
    xxhash64(id, seed). Each iteration is ONE distributed pass:
    assignment is an Arrow-batched pandas UDF (one BLAS matmul per
    batch against the broadcast centroids); the centroid update is
    posexplode → groupBy(cid, pos) avg — the shuffle is bounded by
    #partitions × k × dim map-side partials and the collect by
    k × dim (the model itself). The r7 form unrolled the update
    into ``dim`` separate ``avg(element_at(vec, i))`` aggregate
    COLUMNS, fine at the bench's dim=64 but thousands of codegen
    expressions per pass at real embedding widths (768–4096); the
    exploded plan keeps a single-digit agg-column count at any dim
    (pinned in tests at dim 1024). Rows never reach the driver."""
    # null embeddings would poison the init stack (np.stack over a
    # None) and every avg; a corpus with missing vectors is normal —
    # they simply don't participate in the model
    vecs = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), _dvec(vec_col).alias("vec")
    )
    init = (
        vecs.orderBy(F.xxhash64(F.col("id"), F.lit(seed)), F.col("id"))
        .limit(k)
        .toPandas()
    )
    centroids = np.stack(init["vec"].to_numpy()).astype("float64")
    dim = centroids.shape[1]

    for _ in range(max_iter):
        assigned = vecs.withColumn(
            "__cid", _assign_udf(_unit_rows(centroids))(F.col("vec"))
        )
        rows = (
            assigned.select(
                "__cid", F.posexplode("vec").alias("__pos", "__x")
            )
            .groupBy("__cid", "__pos")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        for r in rows:
            centroids[r["__cid"]][r["__pos"]] = r["__m"]
    return centroids


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
    grouped Arrow pass. Returns ``(C1_unit, S_unit)`` where C1_unit
    is (k1, dim) and S_unit is (k1, k2, dim); a row's cluster id is
    ``coarse * k2 + sub``.

    Why: flat Lloyd assignment is n·k·d work per pass. SemDeDup's
    contract sets k ∝ n (mean cluster size fixed), so the flat fit
    is O(n²·d) — invisible at 200k vectors (8 s of an 82 s wall,
    r9 phase profile) but the dominant term by ~5M. Two levels cut
    fit AND assignment to n·2·sqrt(k)·d = O(n^1.5·d); the edge join
    (sum of squared cluster sizes) stays the linear term it was.

    Determinism: the coarse fit is the seeded flat fitter; each
    sub-fit sorts its group by a Spark-computed xxhash64(id, seed)
    column and seeds from the first k2 rows, then runs a fixed
    iteration count; assignment breaks argmax ties at the first
    (lowest) index. Short groups fit fewer sub-centroids and PAD
    the codebook by repeating their first row — a padded duplicate
    can never win an argmax tie against its earlier original, so
    padded ids are unreachable."""
    k1 = max(2, math.isqrt(max(1, k - 1)) + 1)  # ceil(sqrt(k))
    k2 = max(1, -(-k // k1))  # ceil(k / k1)
    C1 = kmeans_fit(df, id_col, vec_col, k=k1, max_iter=max_iter, seed=seed)
    C1u = _unit_rows(C1)
    dim = C1.shape[1]
    vecs = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), _dvec(vec_col).alias("vec"))
        .withColumn("__h", F.xxhash64(F.col("id"), F.lit(seed)))
        .withColumn("__coarse", _assign_udf(C1u)(F.col("vec")))
    )

    def _fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
        A = np.stack(pdf["vec"].to_numpy()).astype("float64")
        order = np.lexsort((pdf["id"].to_numpy(), pdf["__h"].to_numpy()))
        kk = min(k2, A.shape[0])
        C = A[order[:kk]].copy()
        for _ in range(max_iter):
            Cu = _unit_rows(C)
            An = np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-12)
            cid = np.argmax((A / An) @ Cu.T, axis=1)
            for j in range(kk):
                m = cid == j
                if m.any():
                    C[j] = A[m].mean(axis=0)
        coarse = int(pdf["__coarse"].iloc[0])
        return pd.DataFrame(
            {
                "coarse": [coarse] * kk,
                "sub": list(range(kk)),
                "centroid": [C[j].tolist() for j in range(kk)],
            }
        )

    rows = (
        vecs.groupBy("__coarse")
        .applyInPandas(
            _fit_group,
            "coarse int, sub int, centroid array<double>",
        )
        .collect()
    )
    S = np.zeros((k1, k2, dim), dtype="float64")
    filled = np.zeros(k1, dtype=bool)
    by_coarse: dict[int, list] = {}
    for r in rows:
        by_coarse.setdefault(r["coarse"], []).append(r)
    for c, rs in by_coarse.items():
        for r in rs:
            S[c][r["sub"]] = np.asarray(r["centroid"])
        first = min(rs, key=lambda r: r["sub"])
        for j in range(len(rs), k2):  # pad short groups (see docstring)
            S[c][j] = np.asarray(first["centroid"])
        filled[c] = True
    # empty coarse clusters keep zero rows: no vector is assigned
    # to them, so their sub-codebook is never consulted
    Su = S / np.maximum(
        np.linalg.norm(S, axis=2, keepdims=True), 1e-12
    )
    return C1u, Su


def _assign_hier_udf(C1_unit, S_unit):
    """Arrow-batched two-stage assignment: coarse argmax against the
    (k1, dim) codebook, then sub argmax against that coarse bucket's
    (k2, dim) block — n·(k1 + k2)·d instead of n·k·d. Returns the
    flat cluster id coarse·k2 + sub."""
    k2 = S_unit.shape[1]

    @pandas_udf("int")
    def assign(s: pd.Series) -> pd.Series:
        A = np.stack(s.to_numpy()).astype("float64")
        An = np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-12)
        U = A / An
        coarse = np.argmax(U @ C1_unit.T, axis=1)
        sub = np.zeros(len(coarse), dtype="int64")
        for c in np.unique(coarse):
            m = coarse == c
            sub[m] = np.argmax(U[m] @ S_unit[c].T, axis=1)
        return pd.Series((coarse * k2 + sub).astype("int32"))

    return assign


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
    # rows without an embedding can't be neighbors and would crash
    # the assign UDF's np.stack (same contract as kmeans_fit/semdedup)
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
    book = spark.read.parquet(f"{index_dir}/codebook").collect()
    C = np.zeros((len(book), len(book[0]["centroid"])))
    for r in book:
        C[r["cid"]] = r["centroid"]
    C = _unit_rows(C)
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




# GEMM on unit rows and the expression join's sequential
# dot / (na·nb) differ by at most ~(d + 3)·2^-52 for rows whose norms
# lie in _NORM_RANGE (product and quotient stay finite and normal), so
# every pair within _BOUNDARY_EPS of tau is re-decided exactly and the
# rest cannot flip for any dim below ~10^6. Rows outside the range
# (zero, huge, NaN or inf norms) are decided exactly on every pair.
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


def _exact_edges(V, nrm, i, j, tau):
    """The expression join's verdict ``dot / nullif(na·nb, 0) >= tau``
    on row pairs (i, j): a zero norm product is SQL NULL (no edge) and
    NaN sorts above every double in Spark, so a NaN cosine IS an
    edge."""
    with np.errstate(all="ignore"):
        p = nrm[i] * nrm[j]
        sim = _seq_dot(V[i], V[j]) / p
    return (p != 0) & ((sim >= tau) | np.isnan(sim))


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
    smallest node is its smallest id — the survivor."""
    import pyarrow as pa
    import pyarrow.compute as pc

    lo_tau, hi_tau = tau - _BOUNDARY_EPS, tau + _BOUNDARY_EPS

    def run(table):
        t = table.take(pc.sort_indices(table["id"], null_placement="at_end"))
        ids = t["id"].combine_chunks()
        vecs = t["__v"].combine_chunks()
        n = len(ids)
        dims = pc.list_value_length(vecs).to_numpy(zero_copy_only=False)
        if (dims != dims[0]).any():
            raise ValueError("semdedup needs embeddings of one length")
        flat = vecs.flatten()
        V = flat.to_numpy(zero_copy_only=False).reshape(n, -1)
        # ids are NULL last: a NULL id never satisfies a_id < b_id
        m = n - ids.null_count
        node = np.zeros(n, dtype="int64")
        if m > 1:
            same = pc.equal(ids[1:m], ids[: m - 1]).to_numpy(zero_copy_only=False)
            node[1:m] = np.cumsum(~same)
        live = np.arange(n) < m
        if flat.null_count:
            # a NULL element makes the row's norm NULL: never an edge
            live &= ~flat.is_null().to_numpy(zero_copy_only=False).reshape(n, -1).any(axis=1)
        with np.errstate(all="ignore"):
            nrm = np.sqrt(_seq_dot(V, V))
        regular = live & (nrm >= _NORM_RANGE[0]) & (nrm <= _NORM_RANGE[1])
        lab = np.arange(int(node[m - 1]) + 1 if m else 0)

        R = np.flatnonzero(regular)
        U = V[R] / nrm[R, None]
        for lo in range(0, len(R), _BLOCK_ROWS):
            S = U[lo : lo + _BLOCK_ROWS] @ U[lo:].T
            b = S.shape[0]
            S[:, :b][np.tril_indices(b)] = -np.inf  # upper triangle only
            r, c = np.nonzero(S >= lo_tau)
            i, j = R[lo + r], R[lo + c]
            near = np.flatnonzero(S[r, c] < hi_tau)
            if len(near):
                sure = np.ones(len(r), dtype=bool)
                sure[near] = _exact_edges(V, nrm, i[near], j[near], tau)
                i, j = i[sure], j[sure]
            lab = _min_labels(lab, node[i], node[j])
        for x in np.flatnonzero(live & ~regular):
            # pair the odd row with every regular row and every later
            # odd row, each decided exactly
            j = np.flatnonzero(regular | (live & (np.arange(n) > x)))
            j = j[_exact_edges(V, nrm, np.full(len(j), x), j, tau)]
            lab = _min_labels(lab, np.full(len(j), node[x]), node[j])

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
    """The distributed route for clusters one task cannot hold: GEMM
    candidates from bucketed_cosine_pairs' sub-block tiles at
    tau - _BOUNDARY_EPS, the same exact re-check (as the expression
    itself) below tau + _BOUNDARY_EPS and for rows outside
    _NORM_RANGE, then connected_components. Node keys are
    (cluster << 32) + dense_rank(id) — integral, unique per (cluster,
    id) and ordered like the ids inside a cluster, so the min-key
    survivor is the min-id one and string ids work too."""
    from pyspark.sql import Window

    from .dedup import _reusable
    from .graph import connected_components

    nodes = _reusable(
        rows.where(F.col("id").isNotNull()).withColumn(
            "__k",
            F.shiftleft(F.col("__cid").cast("long"), 32)
            + F.dense_rank().over(Window.partitionBy("__cid").orderBy("id")),
        )
    )
    regular = norm(F.col("__v")).between(*_NORM_RANGE)
    # persisted: the sure and the near edges both read the GEMM pass,
    # and connected_components reads its edges several times
    scored = _reusable(
        bucketed_cosine_pairs(
            nodes.where(regular), "__k", "__v", "__cid",
            threshold=tau - _BOUNDARY_EPS,
            round_to=None,
        )
    )
    a = nodes.select(F.col("__k").alias("a_id"), "__cid", F.col("__v").alias("__va"))
    b = nodes.select(F.col("__k").alias("b_id"), "__cid", F.col("__v").alias("__vb"))
    exact = cosine(F.col("__va"), F.col("__vb")) >= tau
    near = (
        scored.where(F.col("cosine") < tau + _BOUNDARY_EPS)
        .join(a.drop("__cid"), "a_id")
        .join(b.drop("__cid"), "b_id")
        .where(exact)
    )
    # ~regular is NULL for a NULL norm, so rows with NULL elements
    # (never an edge) drop out here as well
    odd = a.where(~norm(F.col("__va")).between(*_NORM_RANGE)).join(b, "__cid")
    odd = odd.where((F.col("a_id") != F.col("b_id")) & exact)
    edges = _reusable(
        scored.where(F.col("cosine") >= tau + _BOUNDARY_EPS)
        .select("a_id", "b_id")
        .unionByName(near.select("a_id", "b_id"))
        .unionByName(odd.select("a_id", "b_id"))
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

    Edge contract (exact at every scale): two rows of one cluster are
    linked iff ``a_id < b_id`` and ``dot(a, b) / nullif(norm(a) *
    norm(b), 0) >= tau``, where ``dot`` and ``norm`` are this module's
    expressions — double precision, summed sequentially. So a NULL id,
    a NULL vector element or a zero norm product never links, and a
    NaN cosine (an overflowing norm) does: Spark orders NaN above
    every double. The survivor of each
    transitively-closed group is its smallest id (the paper keeps the
    member with the LOWEST centroid similarity; min-id is this
    engine's deterministic, tie-stable choice — swap via the returned
    flags if centroid-distance policy is needed). A NULL id gets
    ``keep`` NULL. Ids should be unique; rows sharing an id inside a
    cluster act as one node.

    The 100 TB shape: every duplicate group lies inside one cluster,
    so after the cluster assignment each cluster is ONE grouped Arrow
    task that scores its pairs as GEMM tiles on unit rows, re-decides
    every pair within 1e-9 of ``tau`` with the sequential formula
    above (the GEMM/sequential gap is ~d·2^-52, so nothing else can
    flip), and joins components by vectorized label propagation. Pair
    work is the sum of squared CLUSTER sizes — bounded by choosing
    ``k`` proportional to corpus size (the paper's setting: 50k
    clusters for LAION-440M) — never corpus all-pairs. Clusters above
    32,768 rows, which one task cannot hold, are found by a k-row size
    probe and take a distributed route (bucketed_cosine_pairs'
    sub-block tiles, the same exact re-check, connected_components)
    with identical output. The model is k x dim driver floats (same
    footprint contract as the IVF codebook); k > 64 fits the two-level
    codebook (kmeans_fit_hierarchical). Deterministic: seeded init and
    a fixed iteration count."""
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        StructField,
        StructType,
    )

    from .dedup import _reusable

    if centroids is None and k > HIER_KMEANS_MIN_K:
        # k ∝ corpus (the paper's setting) makes the flat fit and
        # assignment O(n²·d); the two-level codebook is O(n^1.5·d)
        # with the same output contract (the check invariants hold
        # for ANY clustering). Driver SFs sit at k=8 and keep the
        # flat path, so small-scale outputs are unchanged.
        C1u, Su = kmeans_fit_hierarchical(
            df, id_col, vec_col, k=k, max_iter=max_iter, seed=seed
        )
        assign = _assign_hier_udf(C1u, Su)
    else:
        if centroids is None:
            centroids = kmeans_fit(
                df, id_col, vec_col, k=k, max_iter=max_iter, seed=seed
            )
        assign = _assign_udf(_unit_rows(centroids))
    # persisted: the size probe below is its first (filling) scan and
    # the per-cluster pass its second — the assign UDF runs once
    sides = _reusable(
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), _dvec(vec_col).alias("__v"))
        .withColumn("__cid", assign(F.col("__v")))
    )
    oversized = [
        r["__cid"]
        for r in sides.groupBy("__cid")
        .count()
        .where(F.col("count") > _MAX_CLUSTER_ROWS)
        .collect()
    ]
    schema = StructType(
        [
            StructField("id", sides.schema["id"].dataType),
            StructField("cluster", IntegerType()),
            StructField("keep", BooleanType()),
        ]
    )
    if not oversized:
        return sides.groupBy("__cid").applyInArrow(_fused_keep(tau), schema)
    big = F.col("__cid").isin(oversized)
    return (
        sides.where(~big)
        .groupBy("__cid")
        .applyInArrow(_fused_keep(tau), schema)
        .unionByName(_oversized_keep(sides.where(big), tau))
    )
