"""Vector math over ``array<float>`` embedding columns — pure Catalyst
higher-order functions (zip_with / aggregate / transform), no UDFs.

Everything computes in double with strict left-to-right accumulation, so
results are deterministic and bit-identical to a sequential-loop oracle
(verified exact against DuckDB's list_cosine_similarity).

Scale: these run inside whole-stage codegen per row; a 64-dim cosine is
~130 fused multiply-adds with zero serialization overhead — the fastest
Spark-native path short of dropping to a vectorized Arrow kernel.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(col: Column | str) -> Column:
    """Cast array<float> → array<double> so accumulation is full-precision
    (and engine-portable: float32 math differs across SIMD strategies)."""
    return F.transform(F.col(col) if isinstance(col, str) else col,
                       lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0),
                    lambda acc, x: acc + x)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine of two double arrays (pre-cast with to_double_array).
    Null when either vector has zero norm (the cosine is undefined),
    where a plain ``/`` raises DIVIDE_BY_ZERO under ANSI mode."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def vector_count_dim(df, vec_col: str) -> tuple[int, int]:
    """(rows, dim) of an embedding column in ONE aggregate job — the
    size probe every driver-collect guard runs first. dim is the
    longest vector, so a null (or empty) vector in any row, leading
    rows included, cannot hide the real dimension the way a
    first-row probe does (``F.first`` also depends on partition
    order). A null vector's size is -1 (or null under ANSI), counted
    as 0."""
    n, dim = df.agg(F.count(F.lit(1)), F.max(F.size(vec_col))).first()
    return n, max(dim or 0, 0)


def collect_vectors_guarded(
    df,
    id_col: str,
    vec_col: str,
    max_bytes: int = 1 << 30,
    what: str = "vector set",
):
    """Driver-side collect of (id, vector) rows behind an explicit size
    precondition.

    The blocked-matmul kernels (near-dup, vectorized top-k) broadcast one
    side of the comparison as a dense numpy matrix; that side must be
    driver-memory-sized. Collecting without checking would OOM the driver
    on a full-corpus input (the 1000-executor/100 TB posture) before any
    job runs — so count first (a cheap columnar metadata pass) and raise
    a clear error instead. At larger scale, loop the kernel over
    right-side blocks or use the LSH-bucketed operators.
    """
    n, dim = vector_count_dim(df, vec_col)
    if n == 0:
        return []
    est = n * (dim * 8 + 32)
    if est > max_bytes:
        raise ValueError(
            f"refusing to collect {what} to the driver: ~{n} rows × "
            f"{dim} dims ≈ {est / 1e9:.1f} GB exceeds the "
            f"{max_bytes / 1e9:.1f} GB broadcast precondition. Use the "
            "LSH/IVF-bucketed operators, or block the kernel over the "
            "right side."
        )
    return df.select(id_col, vec_col).collect()


def seeded_kmeans_centers(
    df,
    vec_col: str,
    k: int,
    seed: int,
    n_iter: int = 8,
    max_driver_bytes: int = 256 << 20,
):
    """Seeded k-means cell centers for spatial-split operators (SemDeDup
    clustering, IVF cells) — returns a ``(k, dim)`` float64 ndarray, or
    None when the corpus exceeds the driver-fit guard.

    Spark ML's distributed KMeans launches ~10+ scheduled jobs
    (k-means|| init + per-iteration aggregates); on the small inputs
    these operators cluster BY CONSTRUCTION (an embedding table that
    fits the assignment broadcast), that scheduling overhead dominates
    the whole operator (measured: 4.1s of a 4.1s SemDeDup run at
    sf0.1). Under the same driver-size guard the blocked-matmul kernels
    already use, fit locally instead: vectorized k-means++ init +
    Lloyd iterations over one collected matrix — deterministic for a
    given seed, milliseconds at guard scale. Above the guard return
    None and let callers run distributed KMeans (the 100 TB path, where
    fit cost amortizes).

    Only the FIT is driver-side; assignment stays a distributed
    Arrow-batched argmin (see ``assign_cells``)."""
    import numpy as np

    n, dim = vector_count_dim(df, vec_col)
    if n < k or dim == 0 or n * (dim * 8 + 32) > max_driver_bytes:
        return None
    # null vectors carry no position to fit
    rows = df.where(F.col(vec_col).isNotNull()).select(
        to_double_array(vec_col)
    ).collect()
    mat = np.asarray([r[0] for r in rows], dtype=np.float64)
    return kmeans_fit_local(mat, k, seed, n_iter)


def kmeans_fit_local(mat, k: int, seed: int, n_iter: int = 8):
    """Driver-side seeded k-means over an already-collected (n, dim)
    float64 matrix — the fit kernel of ``seeded_kmeans_centers``,
    exposed so callers that fit SEVERAL codebooks over slices of one
    vector set (per-subspace PQ) can collect once and fit locally
    instead of paying count/first/collect jobs per subspace."""
    import numpy as np

    n = len(mat)
    if n == 0 or n < k:
        return None
    # Canonicalize row order before seeding: collect() returns rows in
    # PARTITION order, so without this the seeded RNG indexes a
    # layout-dependent matrix and a mere repartition() changes the fit
    # (found by the r6 partition-invariance test). Lexicographic row
    # sort makes the fit a pure function of the SET of vectors.
    mat = mat[np.lexsort(mat.T[::-1])]
    rng = np.random.default_rng(seed)
    # k-means++ seeding by D² sampling, maintained INCREMENTALLY: track
    # the running min-distance and update it against only the newest
    # center (an n×k×d broadcast temp would be gigabytes right at the
    # collect guard boundary; this keeps peak extra memory at n×d).
    first = mat[rng.integers(n)]
    centers = [first]
    d2 = ((mat - first) ** 2).sum(1)
    for _ in range(1, k):
        total = d2.sum()
        if total <= 0.0:  # degenerate corpus: all points identical
            nxt = mat[rng.integers(n)]
        else:
            nxt = mat[rng.choice(n, p=d2 / total)]
        centers.append(nxt)
        d2 = np.minimum(d2, ((mat - nxt) ** 2).sum(1))
    c = np.array(centers)
    x_sq = (mat * mat).sum(1)[:, None]
    # Two reused (n, k) buffers instead of three fresh temporaries per
    # Lloyd round: at codebook scale (20k × 256) each temporary is
    # ~40 MB and the first-touch page allocation dominated the whole
    # fit (measured 4s alloc vs 0.26s matmul). The expression tree is
    # unchanged — (x_sq + c²) − (2·X@Cᵀ) — so d, and the fit, stay
    # bit-identical to the naive form (pinned by tests).
    d = np.empty((n, k))
    am = np.empty((n, k))
    for _ in range(n_iter):
        np.add(x_sq, (c * c).sum(1)[None, :], out=d)
        np.matmul(mat, c.T, out=am)
        am *= 2.0
        d -= am
        a = d.argmin(1)
        # Mean update via ONE stable argsort + contiguous segment
        # slices instead of a per-cluster boolean mask (k masks × n
        # rows per Lloyd round made the fit O(k·n·iter) in masking
        # alone — the dominant cost at K=256 codebooks). Stable sort
        # preserves original row order inside each segment, so each
        # segment IS mat[a == j] row-for-row and the pairwise-summed
        # .mean(0) stays bit-identical to the masked form (pinned by
        # tests). Empty clusters keep their center, as before.
        order = np.argsort(a, kind="stable")
        sa = a[order]
        bounds = np.flatnonzero(np.r_[True, sa[1:] != sa[:-1]])
        ends = np.r_[bounds[1:], len(sa)]
        for start, end in zip(bounds, ends):
            c[sa[start]] = mat[order[start:end]].mean(0)
    return c


def assign_cells(centers) -> "callable":
    """Distributed nearest-center assignment for ``seeded_kmeans_centers``
    output: a vectorized pandas UDF computing argmin ||x - c||² per row
    via one Arrow-batched matmul (the centers matrix is tiny and ships
    in the UDF closure). Matches Spark ML KMeans assignment semantics
    (Euclidean)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    c = np.ascontiguousarray(centers, dtype=np.float64)
    c_sq = (c * c).sum(1)

    # no type hints: the module defers annotation evaluation (PEP 563)
    # and pandas_udf cannot resolve them for a nested function — the
    # unannotated form is the plain scalar pandas UDF
    @pandas_udf("int")
    def assign(v):
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        x = np.asarray([np.asarray(e, dtype=np.float64) for e in v])
        # ||x||² is constant per row — argmin needs only c² - 2x·c
        idx = (c_sq[None, :] - 2.0 * (x @ c.T)).argmin(1)
        return pd.Series(idx.astype("int32"))

    return assign


def kmeans_assignments(
    df, vec_col: str, id_col: str, k: int, seed: int = 42
):
    """(id, cluster) assignments for a seeded k-means over an embedding
    column — the shared fit-then-assign entry for cluster-scoped
    operators (SemDeDup blocks, IVF cells, topic clustering).

    Fit follows the repo's standard dual path: driver-side seeded Lloyd
    under the collect guard (Spark ML's ~10 scheduled fit jobs dominate
    guard-sized corpora), distributed Spark ML KMeans above it.
    Assignment is a distributed Arrow-batched argmin either way."""
    from pyspark.sql import functions as F

    centers = seeded_kmeans_centers(df, vec_col, k=k, seed=seed)
    if centers is not None:
        return df.select(
            F.col(id_col),
            assign_cells(centers)(to_double_array(vec_col)).alias("cluster"),
        )
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vec_df = df.withColumn(
        "features", array_to_vector(to_double_array(vec_col))
    )
    model = KMeans(k=k, seed=seed, maxIter=8, featuresCol="features").fit(
        vec_df
    )
    return model.transform(vec_df).select(
        F.col(id_col), F.col("prediction").alias("cluster")
    )
