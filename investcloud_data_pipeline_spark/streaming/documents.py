"""Streaming document-corpus ingest: the training-data pipeline's front
door, composing the batch operators into a Structured Streaming flow.

Per micro-batch: compute the content digest (md5 of normalized text),
drop exact duplicates globally across batches, gate on a minimum quality
bar (token count), and append the survivors with their digest +
token stats.

Scale notes: exact-dedup state is the digest key set — unbounded by
design (a global corpus dedup has no event-time horizon). At 100 TB use
the RocksDB state store; or, for bounded state, the batch route:
periodic exact_dedup over the bucketed digest column. Fuzzy dedup
(MinHash) stays a batch job over the deduped corpus — candidate
generation needs corpus-wide banding, which is not a per-batch
operation.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup_fuzzy import content_digest
from ..functions.text import tokens
from .atomic import mark_sink_epoch, sink_epoch_committed

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


def start_document_ingest(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    min_tokens: int = 3,
    available_now: bool = True,
) -> StreamingQuery:
    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(src_dir)
    deduped = (
        stream.withColumn("digest", content_digest("text"))
        .dropDuplicates(["digest"])  # global exact dedup (unbounded state)
        .withColumn("n_tokens", F.size(tokens("text")).cast("long"))
        .filter(F.col("n_tokens") >= min_tokens)
    )
    writer = (
        deduped.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("document_ingest")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_neardup_ingest(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    sig_dir: str,
    checkpoint_dir: str,
    min_tokens: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming NEAR-dup corpus gate: first-committed-wins MinHash-LSH
    suppression across micro-batches.

    Upgrades the exact-digest ingest above to fuzzy dedup: per batch, a
    doc is suppressed iff it shares an LSH band with (a) any
    previously-committed doc, or (b) any smaller-id doc in the same
    batch. Rule (b) is deliberately conservative (the smaller doc might
    itself be suppressed by the store) — a one-pass deterministic gate
    with no per-batch connected-components; at LSH thresholds near-dup
    relations are clique-like, so the over-suppression window is the
    rare A→B→C chain whose ends share no band.

    State IS the committed band relation (``sig_dir`` parquet:
    id, band_idx, band_key) — the same relation batch LSH banding uses
    (operators/dedup_fuzzy.py::minhash_band_relation), so the streaming
    gate and the batch job share one artifact. Both sinks (survivor
    docs + their bands) are epoch-marked for exactly-once across
    restarts, like the bronze two-sink split. Scale: the store probe is
    an equi-join on (band_idx, band_key) — broadcast the (small) batch
    side against the store scan; signature state grows with the CORPUS
    (not the stream), exactly like the batch artifact it mirrors.
    Exact duplicates are subsumed: identical text ⇒ identical
    signature ⇒ every band agrees.
    """
    import os

    from ..operators.dedup_fuzzy import minhash_band_relation

    bands_schema = "id long, band_idx int, band_key string"

    def process_batch(batch_df, epoch_id: int) -> None:
        docs_done = sink_epoch_committed(out_dir, epoch_id)
        sigs_done = sink_epoch_committed(sig_dir, epoch_id)
        if docs_done and sigs_done:
            return
        gated = batch_df.filter(
            F.size(tokens("text")) >= F.lit(min_tokens)
        ).persist()
        new_bands = minhash_band_relation(
            gated, num_hashes=num_hashes, bands=bands
        ).persist()
        try:
            if any(
                f.endswith(".parquet")
                for f in (os.listdir(sig_dir) if os.path.isdir(sig_dir) else [])
            ):
                stored = batch_df.sparkSession.read.schema(bands_schema).parquet(
                    sig_dir
                )
            else:
                stored = batch_df.sparkSession.createDataFrame([], bands_schema)
            vs_store = (
                new_bands.alias("n")
                .join(
                    stored.alias("s"),
                    (F.col("n.band_idx") == F.col("s.band_idx"))
                    & (F.col("n.band_key") == F.col("s.band_key")),
                    "left_semi",
                )
                .select("id")
            )
            a, b = new_bands.alias("a"), new_bands.alias("b")
            vs_batch = (
                b.join(
                    a,
                    (F.col("a.band_idx") == F.col("b.band_idx"))
                    & (F.col("a.band_key") == F.col("b.band_key"))
                    & (F.col("a.id") < F.col("b.id")),
                    "left_semi",
                )
                .select(F.col("b.id").alias("id"))
            )
            suppressed = vs_store.union(vs_batch).distinct()
            survivors = gated.join(
                suppressed, gated["doc_id"] == suppressed["id"], "left_anti"
            ).persist()
            if not docs_done:
                survivors.write.mode("append").parquet(out_dir)
                mark_sink_epoch(out_dir, epoch_id)
            if not sigs_done:
                surv_bands = new_bands.join(
                    survivors.select(F.col("doc_id").alias("id")), "id", "left_semi"
                )
                surv_bands.write.mode("append").parquet(sig_dir)
                mark_sink_epoch(sig_dir, epoch_id)
            survivors.unpersist()
        finally:
            new_bands.unpersist()
            gated.unpersist()

    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(src_dir)
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("neardup_ingest")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_neardup_pair_ingest(
    spark: SparkSession,
    src_dir: str,
    pairs_dir: str,
    members_dir: str,
    checkpoint_dir: str,
    index_table: str = "neardup_band_index",
    num_hashes: int = 12,
    bands: int = 4,
    num_buckets: int = 8,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming incremental MinHash-LSH PAIR ingestion: the production
    form of ``operators/dedup_fuzzy.minhash_incremental_candidates``,
    with the base band relation maintained as a STORED BUCKETED table
    ((band_idx, band_key), ``num_buckets`` buckets) that every
    micro-batch probes and then appends to.

    Per micro-batch: collapse exact duplicates, band the delta's reps,
    run ``incremental_band_pairs`` (the pair step of
    ``minhash_incremental_candidates``) over the stored index and the
    accumulated member maps — its delta×base probe plans the bucketed
    scan side with NO exchange, pinned in tests/test_scale_posture.py —
    and append (a) the new candidate pairs, (b) the delta's bands to
    the bucketed index, (c) the delta's member map. NEVER base×base:
    per-batch cost is |delta bands| + matched buckets, independent of
    corpus size — the 100 TB ingestion shape.

    Equivalence contract (asserted e2e in tests/test_streaming_documents
    .py): the union of per-batch pair outputs over N batches equals the
    from-scratch ``minhash_lsh_candidates`` pair set on the full corpus
    — a pair (i, j) with i arriving before j is emitted exactly once,
    at j's batch. Cross-batch exact duplicates need no special casing:
    identical text ⇒ identical signature ⇒ the reps meet in every band.

    Exactly-once: the three sinks are epoch-marked like the bronze
    two-sink split; pairs append FIRST (they are computed against the
    pre-batch index, so the index append must not precede them within
    an epoch), then the index, then the members.
    """
    import os

    from ..operators.dedup_fuzzy import (
        _exact_groups,
        incremental_band_pairs,
        minhash_band_relation,
    )

    index_marker = os.path.join(members_dir, "_index")
    members_schema = "__rep long, __member long"

    def process_batch(batch_df, epoch_id: int) -> None:
        pairs_done = sink_epoch_committed(pairs_dir, epoch_id)
        idx_done = sink_epoch_committed(index_marker, epoch_id)
        mem_done = sink_epoch_committed(members_dir, epoch_id)
        if pairs_done and idx_done and mem_done:
            return
        sess = batch_df.sparkSession
        # collect BOTH internal persists (reps + members) for unpersist
        # after the batch — without the hook, one cached reps relation
        # leaks per micro-batch for the stream's lifetime.
        batch_caches: list = []
        delta_rep, delta_members = _exact_groups(
            batch_df, "text", "doc_id", cleanup=batch_caches
        )
        banded_delta = minhash_band_relation(
            delta_rep, num_hashes=num_hashes, bands=bands
        ).localCheckpoint(eager=True)
        try:
            if sess.catalog.tableExists(index_table):
                stored = sess.table(index_table)
            else:
                stored = sess.createDataFrame(
                    [], "id long, band_idx int, band_key string"
                )
            if any(
                f.endswith(".parquet")
                for f in (
                    os.listdir(members_dir)
                    if os.path.isdir(members_dir)
                    else []
                )
            ):
                stored_members = sess.read.schema(
                    members_schema
                ).parquet(members_dir)
            else:
                stored_members = sess.createDataFrame([], members_schema)
            pairs = incremental_band_pairs(
                banded_delta, stored,
                stored_members.unionByName(delta_members),
            )
            if not pairs_done:
                pairs.write.mode("append").parquet(pairs_dir)
                mark_sink_epoch(pairs_dir, epoch_id)
            if not idx_done:
                (
                    banded_delta.write.mode("append")
                    .bucketBy(num_buckets, "band_idx", "band_key")
                    .sortBy("band_idx", "band_key")
                    .saveAsTable(index_table)
                )
                mark_sink_epoch(index_marker, epoch_id)
            if not mem_done:
                delta_members.write.mode("append").parquet(members_dir)
                mark_sink_epoch(members_dir, epoch_id)
        finally:
            for cached in batch_caches:
                cached.unpersist()

    stream = spark.readStream.schema(DOCS_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src_dir)
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("neardup_pair_ingest")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def start_embedding_index_ingest(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    centroids_dir: str,
    checkpoint_dir: str,
    n_cells: int = 16,
    seed: int = 67,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming IVF index maintenance: the ANN analogue of the
    incremental MinHash stage — embeddings arrive as a stream, and the
    searchable artifact (vectors laid out by coarse cell) is kept
    up to date per micro-batch instead of rebuilt.

    The coarse quantizer is fitted ONCE, from the first micro-batch
    (``seeded_kmeans_centers``, at most ``n_cells`` centers), persisted to ``centroids_dir``,
    and every later batch reuses it: cell ids are therefore stable for
    the life of the index, which is what makes per-batch appends valid.
    Each batch assigns its vectors (Arrow-batched argmin against the
    broadcast centroid matrix) and appends to ``index_dir``
    PARTITIONED BY cell — so an IVF query's nprobe cell scan is plain
    partition pruning over the accumulated index, no shuffle and no
    touch of the other cells' files (asserted via inputFiles in the
    e2e test). Re-fitting (centroid drift after heavy growth) is a
    batch-side rebuild decision, exactly like FAISS retraining.

    Exactly-once: single sink, epoch-marked like the other foreachBatch
    stages; the centroid fit is idempotent (write-once marker).
    """
    import os

    from ..functions.vectors import (
        assign_cells,
        centers_frame,
        seeded_kmeans_centers,
        to_double_array,
    )

    def _load_or_fit_centers(batch_df):
        import numpy as np

        sess = batch_df.sparkSession
        cfile = os.path.join(centroids_dir, "centroids.parquet")
        # Fit-complete is gated on the _SUCCESS marker, not mere
        # directory existence: a crash mid-write leaves a partial
        # directory, and reading it would feed every subsequent batch a
        # corrupt/empty centroid set instead of refitting. The refit
        # below writes with mode("overwrite"), which replaces any
        # partial remnant; _SUCCESS is committed last, so the gate is
        # crash-consistent.
        if os.path.exists(os.path.join(cfile, "_SUCCESS")):
            rows = sess.read.parquet(cfile).orderBy("cell").collect()
            return np.asarray([r.centroid for r in rows], dtype=np.float64)
        centers = seeded_kmeans_centers(
            batch_df, "embedding", k=n_cells, seed=seed
        )
        os.makedirs(centroids_dir, exist_ok=True)
        centers_frame(sess, centers).coalesce(1).write.mode(
            "overwrite"
        ).parquet(cfile)
        return centers

    def process_batch(batch_df, epoch_id: int) -> None:
        if sink_epoch_committed(index_dir, epoch_id):
            return
        if batch_df.isEmpty():
            mark_sink_epoch(index_dir, epoch_id)
            return
        centers = _load_or_fit_centers(batch_df)
        assigned = batch_df.withColumn(
            "cell",
            assign_cells(centers)(to_double_array("embedding")),
        )
        assigned.write.mode("append").partitionBy("cell").parquet(
            index_dir
        )
        mark_sink_epoch(index_dir, epoch_id)

    stream = spark.readStream.schema(EMB_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src_dir)
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("embedding_index_ingest")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
