"""Similarity search over embedding columns.

Three tiers, trading recall for scale:

* brute_force_topk   — exact cosine top-k per query. Correctness
                       baseline; O(|Q|·|N|). Fine when |Q| is small and
                       broadcastable (the common "search this batch of
                       queries" case) — the corpus side stays fully
                       distributed and never shuffles.
* lsh_bucketed_topk  — sign-LSH over fixed coordinate hyperplanes: bucket
                       key = sign bits of chosen embedding components.
                       Query only probes its own bucket → the join keys
                       on the bucket, turning O(|Q|·|N|) into
                       O(|Q|·|N|/2^b) expected. Deterministic and
                       SQL-portable (oracle-checkable), at the cost of
                       recall for vectors near hyperplane boundaries.
* brp_lsh_topk       — stock pyspark.ml BucketedRandomProjectionLSH
                       (random hyperplanes, approxNearestNeighbors) —
                       the library path; seeded but not SQL-expressible
                       (rows-only oracle).

All cosines computed in double with left-to-right accumulation —
bit-identical to the DuckDB oracle (verified).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import (
    collect_vectors_guarded,
    cosine_similarity,
    to_double_array,
)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded).

    The queries side is broadcast; ranking uses (cos desc, id asc) so
    results are fully deterministic.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), to_double_array(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), to_double_array(vec_col).alias("cv")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", F.col("rk").cast("long").alias("rk"), "neighbor_id", "cos")
    )


SIGN_LSH_DIMS = (0, 9, 21, 33, 47, 55)  # fixed coordinate hyperplanes


def sign_bucket(vec_col: str, dims: tuple[int, ...] = SIGN_LSH_DIMS):
    """Bucket key from sign bits of selected components (array is 0-based
    in semantics; element_at is 1-based)."""
    bits = [
        F.when(F.element_at(F.col(vec_col), d + 1) >= 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for d in dims
    ]
    return F.concat(*bits)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-LSH
    bucket. At 100 TB the corpus is hash-partitioned by bucket once and
    reused across query batches; each query touches ~1/2^b of the data."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        to_double_array(vec_col).alias("qv"),
        sign_bucket(vec_col).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        to_double_array(vec_col).alias("cv"),
        sign_bucket(vec_col).alias("bucket"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", F.col("rk").cast("long").alias("rk"), "neighbor_id", "cos")
    )


def lsh_multiband_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_bands: int = 8,
    bits_per_band: int = 3,
) -> DataFrame:
    """OR-amplified sign-LSH: ``n_bands`` independent bands of
    ``bits_per_band`` coordinate sign bits each; a candidate qualifies
    if it co-buckets with the query in ANY band (union → dedup →
    rank). Single-band sign-LSH ANDs all its bits, so on a
    near-orthogonal corpus (per-bit agreement p, recall ≈ p^bits) it
    misses most true neighbors — the r6 recall ledger measured 0.05
    recall@10 at 6 bits. Banding flips the law to 1-(1-p^r)^B, the
    standard minhash-LSH amplification applied to hyperplane LSH.

    Scale shape: the corpus is exploded ×n_bands onto (band, key) — the
    same bucketed-join economics as MinHash-LSH banding
    (dedup_fuzzy.py), never all-pairs; band fan-out is the recall/cost
    dial. Candidate dedup keys on (query_id, neighbor_id) before the
    ranking window, so a pair agreeing in many bands is scored once."""
    dims = [d for d in range(n_bands * bits_per_band)]

    def band_key(col: str, band: int):
        return F.concat(
            *[
                F.when(
                    F.element_at(F.col(col), dims[band * bits_per_band + b] + 1) >= 0,
                    F.lit("1"),
                ).otherwise(F.lit("0"))
                for b in range(bits_per_band)
            ]
        )

    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"), band_key(vec_col, i).alias("key")
            )
            for i in range(n_bands)
        ]
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        to_double_array(vec_col).alias("qv"),
        F.explode(bands).alias("bk"),
    ).select("query_id", "qv", "bk.band", "bk.key")
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        to_double_array(vec_col).alias("cv"),
        F.explode(bands).alias("bk"),
    ).select("neighbor_id", "cv", "bk.band", "bk.key")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        c.join(F.broadcast(q), on=["band", "key"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qv", "neighbor_id", "cv")
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cos", F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", F.col("rk").cast("long").alias("rk"), "neighbor_id", "cos")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means partitions the corpus into cells;
    each query probes only its ``n_probe`` nearest cells.

    The 100 TB path: centroids are tiny (broadcast); the corpus is
    clustered once and stored partitioned by cell, so a query batch
    touches n_probe/n_cells of the data with plain partition pruning.
    Seeded k-means → deterministic run-to-run, but not SQL-expressible
    (rows-only oracle).
    """
    from ..functions.vectors import (
        assign_cells,
        centers_frame,
        seeded_kmeans_centers,
    )

    # IVF cells only need a reasonable spatial split, not converged
    # clusters — recall comes from n_probe
    centers = seeded_kmeans_centers(corpus, vec_col, k=n_cells, seed=seed)
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        to_double_array(vec_col).alias("cv"),
    ).withColumn("cell", assign_cells(centers)(F.col("cv")))
    cent_df = centers_frame(corpus.sparkSession, centers)
    # nearest n_probe cells per query (centroid set is tiny → broadcast)
    q = queries.select(
        F.col(id_col).alias("query_id"), to_double_array(vec_col).alias("qv")
    )
    w_cell = Window.partitionBy("query_id").orderBy(
        F.col("cdist").asc(), F.col("cell").asc()
    )
    probe = (
        q.join(F.broadcast(cent_df))
        .withColumn(
            "cdist",
            F.aggregate(
                F.zip_with(F.col("qv"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .withColumn("crk", F.row_number().over(w_cell))
        .filter(F.col("crk") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        assigned.join(F.broadcast(probe), on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", F.col("rk").cast("long").alias("rk"), "neighbor_id", "cos")
    )


def vectorized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Arrow-vectorized exact top-k: the query block is collected to a
    numpy matrix (it must be small — same precondition as any broadcast),
    each corpus partition streams through ``mapInPandas``, and the
    per-batch work is ONE dense matmul (batch×dim @ dim×|Q|) instead of
    per-pair expression evaluation. Per-partition partial top-k keeps the
    shuffle tiny; a final window takes the global top-k.

    ~10-40× faster than the expression-tree cosine on wide corpora — the
    pandas-UDF-beats-row-at-a-time story, applied to the one place the
    JVM expression path is genuinely weaker (dense linear algebra).
    Results match brute_force_topk to float tolerance (asserted in
    tests); registered rows-only because numpy's pairwise summation is
    not bit-identical to sequential fold.
    """
    import numpy as np
    import pandas as pd

    q_rows = collect_vectors_guarded(queries, id_col, vec_col, what="query block")
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    n_q = len(q_ids)

    def kernel(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_norm = np.linalg.norm(c_mat, axis=1)
            sims = (c_mat @ q_mat.T) / np.outer(c_norm, q_norm)
            out_q, out_n, out_c = [], [], []
            for j in range(n_q):
                col = sims[:, j]
                mask = ids != q_ids[j]
                cand_idx = np.nonzero(mask)[0]
                if not len(cand_idx):
                    continue
                top = cand_idx[np.argsort(-col[cand_idx], kind="stable")[:k]]
                out_q.extend([q_ids[j]] * len(top))
                out_n.extend(ids[top])
                out_c.extend(col[top])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n,
                 "cos": np.round(out_c, 6)}
            )

    partials = corpus.select(id_col, vec_col).mapInPandas(
        kernel, schema="query_id long, neighbor_id long, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        partials.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", F.col("rk").cast("long").alias("rk"), "neighbor_id", "cos")
    )


def brp_lsh_model(df: DataFrame, vec_col: str = "embedding", seed: int = 42):
    """Fit a stock BucketedRandomProjectionLSH model (pyspark.ml path).

    Returns (model, vectorized_df) where the embedding array is converted
    to an ml VectorUDT column 'features'.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    vec_df = df.withColumn("features", array_to_vector(to_double_array(vec_col)))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=2.0,
        numHashTables=3,
        seed=seed,
    )
    return lsh.fit(vec_df), vec_df


def brp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """approxSimilarityJoin-based neighbor candidates ranked by euclidean
    distance (BRP-LSH is L2-based). Seeded → deterministic run-to-run,
    but not SQL-expressible (rows-only oracle)."""
    model, corpus_vec = brp_lsh_model(corpus, vec_col)
    _, query_vec = brp_lsh_model(queries, vec_col)
    joined = model.approxSimilarityJoin(
        query_vec, corpus_vec, threshold=float("inf"), distCol="dist"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("query_id"),
            F.col(f"datasetB.{id_col}").alias("neighbor_id"),
            F.round("dist", 6).alias("dist"),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", F.col("rk").cast("long").alias("rk"), "neighbor_id", "dist")
    )


def mips_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Exact top-k by INNER PRODUCT (maximum-inner-product search) per
    query — the retrieval objective of recommender / two-tower models,
    where vector magnitude carries signal (popularity, confidence) that
    cosine deliberately strips. Same physical shape as
    :func:`brute_force_topk`: broadcast queries, one scan of the
    corpus, per-query WindowGroupLimit heap, (score desc, id asc)
    determinism. The scale path is the usual MIPS reduction — augment
    corpus vectors with sqrt(M²−‖x‖²) and reuse any cosine/L2 index —
    kept out of scope here; this is the exact reference ranking."""
    from ..functions.vectors import dot, to_double_array

    q = queries.select(
        F.col(id_col).alias("query_id"), to_double_array(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), to_double_array(vec_col).alias("cv")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot", F.round(dot(F.col("qv"), F.col("cv")), 6))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id", F.col("rk").cast("long").alias("rk"),
            "neighbor_id", "dot",
        )
    )
