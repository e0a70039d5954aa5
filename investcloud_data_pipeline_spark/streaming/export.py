"""Streaming sharded export: continuous curation output with an
incrementally-maintained integrity manifest.

The batch exporter (``operators/export.py``) writes shards once and
seals them with an md5-of-sorted-digests checksum. A CONTINUOUS
pipeline appends to shards every micro-batch, so the manifest must be
*mergeable*: this sink maintains per-shard (count, bytes, id-sum,
checksum) where the checksum is a commutative ``bit_xor`` fold of
per-doc ``xxhash64`` digests — batch order, task order, and replay
grouping all cancel out, and updating the manifest costs one tiny
aggregate per batch instead of re-reading the corpus.

Exactly-once: both sinks (shard data, manifest) are epoch-marked the
same way the bronze/neardup pipelines do — a replayed micro-batch
skips whichever sink already committed, so a crash between the data
append and the manifest update converges on replay instead of
double-counting. ``verify_stream_manifest`` recomputes the fold from
the written shards and diffs — the detection path for bit-rot or
out-of-band tampering stays identical to the batch exporter's.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.export import shard_key
from .atomic import (
    commit_version,
    drop_superseded,
    mark_sink_epoch,
    read_committed,
    sink_epoch_committed,
    version_path,
)
from .documents import DOCS_SCHEMA

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("total_bytes", T.LongType()),
        T.StructField("id_sum", T.LongType()),
        T.StructField("content_xor", T.LongType()),
    ]
)


def _doc_digest() -> F.Column:
    return F.xxhash64(
        F.concat_ws("\x01", F.col("doc_id").cast("string"), F.col("text"))
    )


def batch_shard_stats(df: DataFrame, n_shards: int) -> DataFrame:
    """Per-shard mergeable stats of one batch: the commutative fold
    means stats of two batches ADD (xor for the checksum), which is
    exactly what the manifest merge below relies on."""
    return (
        df.select(
            shard_key("doc_id", n_shards).alias("shard"),
            F.col("doc_id").alias("id"),
            F.length("text").cast("long").alias("n_bytes"),
            _doc_digest().alias("digest"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("id").alias("id_sum"),
            F.bit_xor("digest").alias("content_xor"),
        )
    )


def read_manifest(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """The committed manifest snapshot (empty frame before the first
    commit). Readers resolve the ``_COMMITTED`` marker, never a bare
    directory listing — a crash mid-rewrite can't expose half a file."""
    _, vdir = read_committed(manifest_dir)
    if vdir is None:
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(vdir)


def _merge_manifest(spark: SparkSession, manifest_dir: str,
                    delta: DataFrame, epoch_id: int) -> None:
    """manifest' = manifest ⊎ delta (sum counts/bytes/ids, xor
    checksums). The manifest is <= n_shards rows — the rewrite is a
    metadata-sized job — and it commits through the versioned-snapshot
    protocol (write ``v_<epoch>``, then atomically flip ``_COMMITTED``):
    a crash mid-rewrite leaves the previous manifest fully readable
    instead of an empty directory that a replayed batch would merge
    its delta into, silently losing all prior counts."""
    cur = read_manifest(spark, manifest_dir)
    merged = (
        cur.unionByName(delta)
        .groupBy("shard")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_bytes").alias("total_bytes"),
            F.sum("id_sum").alias("id_sum"),
            F.bit_xor("content_xor").alias("content_xor"),
        )
    )
    rows = merged.collect()  # <= n_shards rows — driver-safe
    vdir = version_path(manifest_dir, epoch_id)
    tmp = spark.createDataFrame(rows, MANIFEST_SCHEMA)
    tmp.coalesce(1).write.mode("overwrite").parquet(vdir)
    commit_version(manifest_dir, epoch_id, vdir)
    drop_superseded(manifest_dir, vdir, retain=2)


def start_shard_export(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    n_shards: int = 8,
) -> StreamingQuery:
    """availableNow stream appending docs into ``out_dir/shard=K`` with
    the manifest at ``out_dir/_manifest`` kept in lockstep."""
    manifest_dir = os.path.join(out_dir, "_manifest")
    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(src_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            if not sink_epoch_committed(out_dir, epoch_id):
                (
                    batch_df.withColumn("shard", shard_key("doc_id", n_shards))
                    .repartition(n_shards, "shard")
                    .write.mode("append")
                    .partitionBy("shard")
                    .parquet(out_dir)
                )
                mark_sink_epoch(out_dir, epoch_id)
            # The _COMMITTED marker IS the manifest's epoch guard:
            # commit_version records the epoch atomically with the data
            # flip, so a replay after any crash point either sees the
            # old manifest (and re-merges exactly once) or the new one
            # (and skips) — no window where the delta double-counts.
            if read_committed(manifest_dir)[0] < epoch_id:
                _merge_manifest(
                    spark, manifest_dir,
                    batch_shard_stats(batch_df, n_shards), epoch_id,
                )
        finally:
            batch_df.unpersist()

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .queryName("shard_export")
        .start()
    )


def verify_stream_manifest(spark: SparkSession, out_dir: str,
                           n_shards: int = 8) -> DataFrame:
    """Recompute the fold from the written shards, diff against the
    maintained manifest; returns mismatching shard ids (empty = intact)."""
    manifest_dir = os.path.join(out_dir, "_manifest")
    stored = read_manifest(spark, manifest_dir)
    actual = batch_shard_stats(
        spark.read.parquet(out_dir).drop("shard"), n_shards
    )
    return (
        stored.alias("s")
        .join(actual.alias("a"), "shard", "full")
        .filter(
            (F.col("s.n_docs") != F.col("a.n_docs"))
            | (F.col("s.total_bytes") != F.col("a.total_bytes"))
            | (F.col("s.content_xor") != F.col("a.content_xor"))
            | F.col("s.n_docs").isNull()
            | F.col("a.n_docs").isNull()
        )
        .select("shard")
    )


def start_drift_monitor(
    spark: SparkSession,
    src_dir: str,
    ref_counts: DataFrame,
    metrics_dir: str,
    checkpoint_dir: str,
    bucket_col_expr,
    schema: T.StructType,
) -> StreamingQuery:
    """Per-micro-batch PSI drift against a FROZEN reference histogram:
    the production guard that flags a live feed whose value
    distribution is sliding away from the one the models were
    trained/validated on.

    ``ref_counts`` is a tiny (bucket, n_ref) frame computed ONCE from
    the reference window and broadcast into every batch — the frame of
    comparison never moves with the drift being measured (the same
    fixed-frame rule as the batch PSI). Each batch appends one row
    (epoch, n_events, psi, drifted) to ``metrics_dir``; the batch work
    is a single grouped count + a <=k-row join, so monitoring cost is
    O(batch), independent of history.
    """
    ref = ref_counts.collect()
    k = max(len(ref), 1)
    t_ref = sum(r.n_ref for r in ref) or 1
    ref_map = {r.bucket: r.n_ref for r in ref}

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # Same epoch guard as every other foreachBatch sink here: a
        # replayed epoch after a crash must not append a duplicate
        # (epoch, psi) row to the metrics history.
        if sink_epoch_committed(metrics_dir, epoch_id):
            return
        counts = {
            r.bucket: r.n
            for r in batch_df.select(bucket_col_expr.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        n_cur = sum(counts.values())
        if n_cur == 0:
            mark_sink_epoch(metrics_dir, epoch_id)
            return
        import math

        psi = 0.0
        for b in set(ref_map) | set(counts):
            p = (ref_map.get(b, 0) + 0.5) / (t_ref + 0.5 * k)
            q = (counts.get(b, 0) + 0.5) / (n_cur + 0.5 * k)
            psi += (p - q) * (math.log(p) - math.log(q))
        row = [(int(epoch_id), int(n_cur), round(psi, 6), psi > 0.1)]
        spark.createDataFrame(
            row, "epoch long, n_events long, psi double, drifted boolean"
        ).coalesce(1).write.mode("append").parquet(metrics_dir)
        mark_sink_epoch(metrics_dir, epoch_id)

    return (
        spark.readStream.schema(schema)
        .parquet(src_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .queryName("drift_monitor")
        .start()
    )
