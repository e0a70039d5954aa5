"""Streaming shard export: incremental mergeable manifest, exactly-once
across restarts, partial-failure convergence, tamper detection."""

from __future__ import annotations

import os

from investcloud_data_pipeline_spark.streaming.atomic import (
    mark_sink_epoch,
)
from investcloud_data_pipeline_spark.streaming.export import (
    batch_shard_stats,
    read_manifest,
    start_shard_export,
    verify_stream_manifest,
)


def _write(spark, src, name, rows):
    df = spark.createDataFrame(
        [(i, t, "en", "s") for i, t in rows],
        "doc_id long, text string, lang string, source string",
    )
    df.coalesce(1).write.mode("append").parquet(src)
    _ = name


def test_shard_export_incremental_manifest(spark, tmp_path):
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    _write(spark, src, "b1", [(1, "alpha doc"), (2, "beta doc"), (3, "gamma")])
    q = start_shard_export(spark, src, out, ck, n_shards=4)
    q.awaitTermination(180)

    _write(spark, src, "b2", [(4, "delta doc"), (5, "epsilon")])
    q = start_shard_export(spark, src, out, ck, n_shards=4)
    q.awaitTermination(180)

    # data complete, manifest in lockstep, fold equals batch recompute
    assert spark.read.parquet(out).count() == 5
    assert verify_stream_manifest(spark, out, n_shards=4).count() == 0
    stored = {
        r.shard: (r.n_docs, r.content_xor)
        for r in read_manifest(spark, os.path.join(out, "_manifest")).collect()
    }
    full = {
        r.shard: (r.n_docs, r.content_xor)
        for r in batch_shard_stats(
            spark.read.parquet(out).drop("shard"), 4
        ).collect()
    }
    assert stored == full


def test_shard_export_partial_failure_converges(spark, tmp_path):
    """Crash window between the data append and the manifest update:
    pre-mark the data sink for the next epoch; replay must update ONLY
    the manifest - no duplicate rows, no double-count."""
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    _write(spark, src, "b1", [(1, "one doc here"), (2, "two doc here")])
    q = start_shard_export(spark, src, out, ck, n_shards=2)
    q.awaitTermination(180)
    n_before = spark.read.parquet(out).count()

    _write(spark, src, "b2", [(9, "nine doc")])
    mark_sink_epoch(out, 1)  # simulate: data committed, manifest not
    q = start_shard_export(spark, src, out, ck, n_shards=2)
    q.awaitTermination(180)

    # doc 9's data append was (simulated-)crashed away but its manifest
    # delta DID apply -> verify now flags the divergence honestly
    assert spark.read.parquet(out).count() == n_before
    bad = verify_stream_manifest(spark, out, n_shards=2).count()
    assert bad >= 1

    # a clean restart epoch with new data converges the healthy shards
    _write(spark, src, "b3", [(10, "ten doc")])
    q = start_shard_export(spark, src, out, ck, n_shards=2)
    q.awaitTermination(180)
    assert spark.read.parquet(out).count() == n_before + 1


def test_shard_export_tamper_detection(spark, tmp_path):
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    _write(spark, src, "b1", [(i, f"doc number {i}") for i in range(20)])
    q = start_shard_export(spark, src, out, ck, n_shards=2)
    q.awaitTermination(180)
    assert verify_stream_manifest(spark, out, n_shards=2).count() == 0

    # drop one shard's files out-of-band
    victim = os.path.join(out, "shard=0")
    data = spark.read.parquet(victim).limit(1)
    data.write.mode("overwrite").parquet(str(tmp_path / "evil"))
    spark.read.parquet(str(tmp_path / "evil")).write.mode("overwrite").parquet(victim)

    bad = [r.shard for r in verify_stream_manifest(spark, out, 2).collect()]
    assert bad == [0]


def test_manifest_survives_crash_mid_rewrite(spark, tmp_path):
    """ADVICE r5 (medium): the manifest rewrite used to be a non-atomic
    parquet overwrite — a crash mid-overwrite deleted the accumulated
    stats and the replayed batch merged into an EMPTY manifest. Now the
    merge writes a fresh version dir and flips _COMMITTED atomically;
    simulate the crash (a half-written uncommitted version dir) and
    assert readers still see the previous snapshot intact."""
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    _write(spark, src, "b1", [(1, "alpha doc"), (2, "beta doc"), (3, "gamma")])
    q = start_shard_export(spark, src, out, ck, n_shards=2)
    q.awaitTermination(180)
    mdir = os.path.join(out, "_manifest")
    before = {
        r.shard: (r.n_docs, r.content_xor)
        for r in read_manifest(spark, mdir).collect()
    }
    assert before  # epoch 0 committed something

    # crash simulation: a later merge died after creating its version
    # dir (even with partial garbage inside) but BEFORE the marker flip
    crash_dir = os.path.join(mdir, "v_7")
    os.makedirs(crash_dir)
    with open(os.path.join(crash_dir, "part-00000.parquet"), "wb") as fh:
        fh.write(b"half a parquet file")

    after = {
        r.shard: (r.n_docs, r.content_xor)
        for r in read_manifest(spark, mdir).collect()
    }
    assert after == before
    assert verify_stream_manifest(spark, out, n_shards=2).count() == 0

    # and the next real epoch merges on top of the intact snapshot
    _write(spark, src, "b2", [(4, "delta doc")])
    q = start_shard_export(spark, src, out, ck, n_shards=2)
    q.awaitTermination(180)
    assert verify_stream_manifest(spark, out, n_shards=2).count() == 0
    assert sum(
        r.n_docs for r in read_manifest(spark, mdir).collect()
    ) == 4


def test_drift_monitor_replayed_epoch_no_duplicate_row(spark, tmp_path):
    """ADVICE r5 (low): a replayed epoch (fresh checkpoint, same data =
    same epoch ids re-fired) must not append a duplicate (epoch, psi)
    row — the metrics sink now carries the same epoch guard as every
    other foreachBatch sink in the module."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from investcloud_data_pipeline_spark.streaming.export import (
        start_drift_monitor,
    )

    schema = T.StructType(
        [T.StructField("event_id", T.LongType()),
         T.StructField("value", T.DoubleType())]
    )
    bucket = F.when(F.col("value") < 10, 0).otherwise(1)
    ref = spark.createDataFrame([(0, 50), (1, 50)], "bucket int, n_ref long")
    src, met = (str(tmp_path / d) for d in ("src", "met"))
    spark.createDataFrame(
        [(i, float(i % 20)) for i in range(40)], schema
    ).coalesce(1).write.mode("append").parquet(src)

    q = start_drift_monitor(spark, src, ref, met, str(tmp_path / "ck1"),
                            bucket, schema)
    q.awaitTermination(180)
    # replay: a NEW checkpoint restarts epochs at 0 over the same files
    q = start_drift_monitor(spark, src, ref, met, str(tmp_path / "ck2"),
                            bucket, schema)
    q.awaitTermination(180)

    rows = spark.read.parquet(met).collect()
    assert len(rows) == 1 and rows[0].epoch == 0


def test_drift_monitor_flags_shifted_batches(spark, tmp_path):
    """Reference = low values; batch 1 matches (no drift), batch 2 is
    shifted high (drift flagged). One metrics row per micro-batch."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from investcloud_data_pipeline_spark.streaming.export import (
        start_drift_monitor,
    )

    schema = T.StructType(
        [T.StructField("event_id", T.LongType()),
         T.StructField("value", T.DoubleType())]
    )
    bucket = (
        F.when(F.col("value") < 10, 0)
        .when(F.col("value") < 50, 1)
        .otherwise(2)
    )
    ref = spark.createDataFrame(
        [(0, 500), (1, 450), (2, 50)], "bucket int, n_ref long"
    )
    src, met, ck = (str(tmp_path / d) for d in ("src", "met", "ck"))

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # batch 1: same shape as the reference
    write_batch([(i, float(v)) for i, v in enumerate([5.0] * 50 + [20.0] * 45 + [80.0] * 5)])
    q = start_drift_monitor(spark, src, ref, met, ck, bucket, schema)
    q.awaitTermination(180)

    # batch 2: mass shifted into the top bucket
    write_batch([(1000 + i, 90.0) for i in range(100)])
    q = start_drift_monitor(spark, src, ref, met, ck, bucket, schema)
    q.awaitTermination(180)

    rows = {r.epoch: r for r in spark.read.parquet(met).collect()}
    assert len(rows) == 2
    assert not rows[0].drifted and rows[0].psi < 0.05
    assert rows[1].drifted and rows[1].psi > 0.5
    assert rows[0].n_events == 100 and rows[1].n_events == 100
