"""Embedding-column transforms for training-data pipelines.

LLM-pipeline extension (no reference analogue). Everything here is
a narrow JVM-side projection (higher-order functions over
array<float>) or a key-partitioned agg — no Python in the hot path,
no driver materialization, so each op composes into the scan at any
scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F

from .similarity import _dvec, _read_matrix, norm


def l2_normalize(vec) -> Column:
    """Unit-norm the vector (double precision); zero vectors map to
    null elements via the nullif guard rather than Inf/ANSI errors."""
    n = F.nullif(norm(vec), F.lit(0.0))
    return F.transform(_dvec(vec), lambda x: x / n)


def quantize_int8(vec) -> Column:
    """Symmetric per-vector int8 quantization: round(127 * x /
    max|x|) as array<int> (integer outputs are exactly portable
    across engines — used for checksum parity). Zero vectors yield
    null elements (nullif guard)."""
    dv = _dvec(vec)
    max_abs = F.nullif(
        F.array_max(F.transform(dv, lambda x: F.abs(x))), F.lit(0.0)
    )
    return F.transform(
        dv, lambda x: F.round(F.lit(127.0) * x / max_abs).cast("int")
    )


def centroids(df: SparkDF, label_col: str, vec_col: str) -> SparkDF:
    """Per-label per-dimension mean — (label, pos, avg_val) rows via
    posexplode + one shuffled agg with map-side partials. The
    long/narrow output shape (groups x dims rows) avoids re-packing
    arrays and keeps the plan a single exchange on (label, pos)."""
    return (
        df.select(
            F.col(label_col).alias("label"),
            F.posexplode(_dvec(vec_col)).alias("pos", "val"),
        )
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("avg_val"))
    )


def pca_fit(df: SparkDF, vec_col: str, k: int, ddof: int = 1):
    """Distributed PCA over an embedding column (LLM-pipeline
    extension: the standard projection/whitening/compression step
    before clustering or semantic dedup at corpus scale).

    The 100 TB shape: ONE mapInArrow pass emits a single partial
    row per input partition — (n, Σx, flattened XᵀX Gram) — so the
    shuffle-free scan reduces to #partitions × (1 + d + d²) doubles
    of driver state (model-sized, the kmeans_fit/IVF-codebook
    contract; d = 64 → ~33 KB per partition). The d×d covariance
    eigendecomposition then runs driver-side in numpy. Rows never
    reach the driver; null embeddings don't participate (the
    kmeans_fit contract). A covariance needs every element, so a
    vector with a NULL element raises ``ValueError`` naming how many
    such vectors there are: drop or impute them first.

    Returns ``(components, eigvals, mean, total_var)``: the top-k
    eigenvectors as a (k, d) float64 matrix (rows are components,
    sign-fixed so each component's largest-|.|-coordinate is
    positive — deterministic across equivalent eigensolves),
    their eigenvalues (ddof-corrected sample variances along each
    component), the column mean, and the total variance (trace of
    the covariance)."""
    import numpy as np

    if k < 1:
        raise ValueError(f"pca_fit: k must be >= 1, got {k}")
    vecs = df.where(F.col(vec_col).isNotNull()).select(
        _dvec(vec_col).alias("__v")
    )

    def _partials(batches):
        import pyarrow as pa

        n = n_null = 0
        s = None
        g = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            X, valid = _read_matrix(batch.column("__v"))  # a NULL element is NaN
            n += X.shape[0]
            n_null += int((~valid.all(axis=1)).sum())
            s = X.sum(axis=0) if s is None else s + X.sum(axis=0)
            gg = X.T @ X
            g = gg if g is None else g + gg
        if n:
            yield pa.record_batch(
                {
                    "n": pa.array([n]),
                    "n_null": pa.array([n_null]),
                    "s": pa.array([s]),
                    "g": pa.array([g.ravel()]),
                }
            )

    rows = vecs.mapInArrow(
        _partials, "n long, n_null long, s array<double>, g array<double>"
    ).collect()
    if not rows:
        raise ValueError("pca_fit: no non-null vectors")
    n_null = sum(r["n_null"] for r in rows)
    if n_null:
        raise ValueError(
            f"pca_fit: {n_null} vectors have a NULL element; drop or "
            "impute them first"
        )
    n = sum(r["n"] for r in rows)
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    d = s.shape[0]
    if k > d:
        raise ValueError(f"pca_fit: k={k} exceeds dim={d}")
    if n <= ddof:
        raise ValueError(f"pca_fit: need more than {ddof} vectors, got {n}")
    g = np.sum([np.asarray(r["g"]).reshape(d, d) for r in rows], axis=0)
    mean = s / n
    cov = (g - np.outer(s, s) / n) / (n - ddof)
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigvals)[::-1][:k]
    comps = eigvecs[:, order].T  # (k, d)
    # deterministic sign: largest-|.| coordinate positive
    for i in range(k):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return comps, eigvals[order], mean, float(np.trace(cov))


def pca_project(
    df: SparkDF,
    vec_col: str,
    components,
    mean,
    out_col="pca",
    whiten: bool = False,
    eigvals=None,
    eps: float = 1e-12,
):
    """Project each embedding onto fitted components IN-ROW: center
    against the broadcast-literal mean, then k dot products as JVM
    higher-order aggregates — a narrow map-only projection, zero
    shuffle, no Python. The centered vector is materialized ONCE via
    the one-element-explode Generate barrier (the bm25 pattern:
    higher-order fns are CodegenFallback, so without the barrier
    CollapseProject would re-center per component). Rows with a null
    embedding project to null.

    ``whiten=True`` rescales each component by 1/sqrt(eigval + eps)
    (pass ``eigvals`` from pca_fit) so projected coordinates have
    unit variance — the standard decorrelate-and-equalize transform
    before cosine similarity or semantic dedup, folded into the same
    literal matrix at zero extra runtime cost."""
    import numpy as np

    comps = np.asarray(components, dtype="float64")
    if whiten:
        if eigvals is None:
            raise ValueError("pca_project: whiten=True requires eigvals")
        ev = np.asarray(eigvals, dtype="float64")
        if ev.shape[0] != comps.shape[0]:
            raise ValueError(
                f"pca_project: {comps.shape[0]} components but"
                f" {ev.shape[0]} eigvals"
            )
        comps = comps / np.sqrt(ev + eps)[:, None]
    mean = np.asarray(mean, dtype="float64")
    mean_lit = F.array(*[F.lit(float(m)) for m in mean])
    centered = F.zip_with(_dvec(vec_col), mean_lit, lambda x, m: x - m)
    tmp = df.withColumn("__centered", F.explode(F.array(centered)))
    proj = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("__centered"),
                    F.array(*[F.lit(float(w)) for w in row]),
                    lambda x, w: x * w,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for row in comps
        ]
    )
    return tmp.withColumn(out_col, proj).drop("__centered")
