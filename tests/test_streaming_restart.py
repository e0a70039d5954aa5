"""Restart recovery: stop the continuous pipeline, add data, restart
from the same checkpoints — no loss, no double-processing."""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F

from investcloud_data_pipeline_spark.config import PipelinePaths
from investcloud_data_pipeline_spark.datagen import (
    make_ip_region_frame,
    write_activity_files,
)
from investcloud_data_pipeline_spark.streaming.pipeline import start_continuous


def _wait_for(fn, timeout_s=180):
    # 180s, not 90: under full-suite contention plus hypervisor steal
    # (calibration 2.5-3.9x nominal measured in round 11) the 90s
    # budget flaked once; polling exits early on success, so the
    # higher ceiling only slows genuinely failing runs.
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        try:
            if fn():
                return True
        except Exception:
            pass
        time.sleep(2)
    return False


def test_continuous_restart_no_loss_no_dup(spark, tmp_path):
    paths = PipelinePaths(str(tmp_path))
    os.makedirs(paths.raw, exist_ok=True)
    ip_regions = spark.createDataFrame(make_ip_region_frame())
    write_activity_files(paths.raw, num_files=2, rows_per_file=200)

    queries = start_continuous(spark, paths, ip_regions, trigger_seconds=2)
    assert _wait_for(
        lambda: spark.read.parquet(paths.bronze).count() == 400
    ), "wave 1 never fully ingested"
    for q in queries:
        q.stop()
    for q in queries:
        q.awaitTermination(30)

    # second wave lands while the pipeline is DOWN
    write_activity_files(paths.raw, num_files=1, rows_per_file=100, start_index=5)

    queries = start_continuous(spark, paths, ip_regions, trigger_seconds=2)
    try:
        assert _wait_for(
            lambda: spark.read.parquet(paths.bronze).count() == 500
        ), "wave 2 not picked up after restart"
        bronze = spark.read.parquet(paths.bronze)
        # no double-processing: every log_id appears exactly as often as
        # in the raw input (bronze does no dedup, so multiset must match)
        raw_counts = (
            spark.read.parquet(paths.raw)
            .groupBy("log_id")
            .agg(F.count("*").alias("n"))
        )
        bronze_counts = bronze.groupBy("log_id").agg(F.count("*").alias("n"))
        assert raw_counts.subtract(bronze_counts).count() == 0
        assert bronze_counts.subtract(raw_counts).count() == 0
    finally:
        for q in queries:
            q.stop()
        for q in queries:
            q.awaitTermination(30)


@pytest.mark.slow
def test_cc_chain_mid_epoch_kill_replays_without_dup(spark, tmp_path, monkeypatch):
    """Round-11 chaos case: kill the CC cluster-ingest foreachBatch
    AFTER the member-store append but BEFORE the remap commit ("sink
    written, checkpoint not committed") on the full docs -> pairs ->
    clusters chain. The restart must replay the epoch against the
    pre-batch remap WITHOUT duplicating member-store appends, and the
    final labelling must equal from-scratch CC over all emitted pairs."""
    import pandas as pd

    from investcloud_data_pipeline_spark.operators import (
        graph_incremental as GI,
    )
    from investcloud_data_pipeline_spark.operators.graph import (
        connected_components_star,
    )
    from investcloud_data_pipeline_spark.streaming.documents import (
        start_neardup_pair_ingest,
    )

    docs_src = str(tmp_path / "docs")
    os.makedirs(docs_src)
    texts = {
        1: "the quick brown fox jumps over the lazy dog today",
        2: "the quick brown fox jumps over the lazy dog today",
        3: "an entirely different document about spark streaming",
        4: "the quick brown fox jumps over the lazy dog yesterday",
        5: "an entirely different document about spark streaming",
    }
    for i, (doc_id, text) in enumerate(sorted(texts.items())):
        pd.DataFrame({"doc_id": [doc_id], "text": [text]}).to_parquet(
            f"{docs_src}/d{i}.parquet", index=False
        )

    pairs_dir, pm_dir, ck1 = (
        str(tmp_path / d) for d in ("pairs", "pmembers", "ck1")
    )
    table = "t_ccchaos_band_index"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(os.path.join(wh, table), ignore_errors=True)
    q = start_neardup_pair_ingest(
        spark, docs_src, pairs_dir, pm_dir, ck1, index_table=table
    )
    q.awaitTermination(180)

    cc_m, cc_r, ck2 = (str(tmp_path / d) for d in ("ccm", "ccr", "ck2"))

    # abort INSIDE the batch, after members append, at the commit point:
    # commit_version raising models a crash where the parquet append
    # survived but neither the remap marker nor the streaming
    # checkpoint committed
    real_commit = GI.commit_version

    def exploding_commit(root, epoch_id, version_dir):
        raise RuntimeError("injected mid-epoch kill before remap commit")

    monkeypatch.setattr(GI, "commit_version", exploding_commit)
    q2 = GI.start_cluster_ingest(spark, pairs_dir, cc_m, cc_r, ck2)
    import pytest
    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException):
        q2.awaitTermination(120)
        raise AssertionError("injected abort did not surface")
    # the kill landed after the member append: rows exist on disk but
    # nothing is committed
    assert os.path.isdir(cc_m)
    assert not os.path.isfile(os.path.join(cc_r, "_COMMITTED"))

    # restart with the real commit: the checkpoint replays the epoch
    monkeypatch.setattr(GI, "commit_version", real_commit)
    q3 = GI.start_cluster_ingest(spark, pairs_dir, cc_m, cc_r, ck2)
    q3.awaitTermination(120)

    members = spark.read.schema("node long, comp0 long, shard int").parquet(cc_m)
    # no duplicated member-store appends across the kill + replay
    assert (
        members.groupBy("node").count().filter(F.col("count") > 1).count()
        == 0
    )
    pairs = [
        (r.id1, r.id2)
        for r in spark.read.parquet(pairs_dir).select("id1", "id2").collect()
    ]
    assert pairs
    want = {
        (r.node, r.component)
        for r in connected_components_star(
            spark.createDataFrame(pairs, "id1 long, id2 long"),
            src="id1",
            dst="id2",
        )
        .selectExpr("node", "component")
        .collect()
    }
    got = {
        (r.node, r.component)
        for r in GI.cc_read(spark, cc_m, cc_r).collect()
    }
    assert got == want
