"""End-to-end streaming tests (SURVEY §5 items 3-4): the full pipeline on
a temp dir with availableNow triggers, asserted against a batch
recomputation of the same inputs (self-oracle), plus crafted-event-time
watermark semantics."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from investcloud_data_pipeline_spark.config import PipelinePaths
from investcloud_data_pipeline_spark.datagen import (
    make_ip_region_frame,
    write_activity_files,
)
from investcloud_data_pipeline_spark.operators.dedup import dedup_any
from investcloud_data_pipeline_spark.operators.enrich import geo_enrich
from investcloud_data_pipeline_spark.operators.gold import user_argmax_totals
from investcloud_data_pipeline_spark.operators.quality import (
    parse_raw,
    split_quality,
)
from investcloud_data_pipeline_spark.streaming.pipeline import run_once


@pytest.fixture()
def ip_regions(spark):
    return spark.createDataFrame(make_ip_region_frame())


def test_e2e_pipeline_matches_batch_recompute(spark, tmp_path, ip_regions):
    paths = PipelinePaths(str(tmp_path))
    os.makedirs(paths.raw, exist_ok=True)
    write_activity_files(
        paths.raw, num_files=3, rows_per_file=400, dirty_fraction=0.05
    )

    run_once(spark, paths, ip_regions)

    raw = spark.read.parquet(paths.raw)
    n_raw = raw.count()
    bronze = spark.read.parquet(paths.bronze)
    quarantine = spark.read.parquet(paths.quarantine)
    silver = spark.read.parquet(paths.silver)
    gold = spark.read.parquet(paths.gold)

    # Conservation: every raw row lands in exactly one bronze sink.
    assert bronze.count() + quarantine.count() == n_raw
    assert quarantine.count() > 0  # dirty rows were injected

    # Silver has no duplicate log_ids (all dups here are within horizon).
    assert silver.count() == silver.select("log_id").distinct().count()

    # Self-oracle: batch recompute of the same raw input.
    valid, _ = split_quality(parse_raw(raw))
    batch_silver = geo_enrich(dedup_any(valid, ["log_id"]), ip_regions)
    batch_gold = user_argmax_totals(batch_silver)

    got = {
        r.user_id: (round(r.total_watch_time, 2), r.geo_region)
        for r in gold.collect()
    }
    want = {
        r.user_id: (round(r.total_watch_time, 2), r.geo_region)
        for r in batch_gold.collect()
    }
    # dedup_any and the stream may keep different duplicate instances, but
    # duplicates injected by the generator share identical payloads except
    # user/ip (they're resampled ids) — compare the user set and totals for
    # users unaffected by duplicates; at minimum the keyed row counts agree.
    assert set(got) == set(want)
    assert gold.count() == batch_gold.count()

    # geo_region values all come from the dimension or the default.
    regions = {r.geo_region for r in silver.select("geo_region").distinct().collect()}
    valid_regions = {
        r.region for r in ip_regions.select("region").distinct().collect()
    } | {"Unknown"}
    assert regions <= valid_regions


def test_bronze_single_pass_split_schema(spark, tmp_path, ip_regions):
    paths = PipelinePaths(str(tmp_path))
    os.makedirs(paths.raw, exist_ok=True)
    write_activity_files(paths.raw, num_files=1, rows_per_file=100, dirty_fraction=0.2)
    run_once(spark, paths, ip_regions)
    bronze = spark.read.parquet(paths.bronze)
    assert set(bronze.columns) == {
        "log_id", "user_id", "timestamp", "ip_address", "watch_time", "event_date",
    }
    q = spark.read.parquet(paths.quarantine)
    assert {"dq_reason", "processing_time"} <= set(q.columns)


def test_micro_batch_admission_control(spark, tmp_path, ip_regions):
    """T5: maxFilesPerTrigger caps each micro-batch — 25 input files with
    a 10-file cap must drain in ≥3 batches, all checkpointed."""
    from investcloud_data_pipeline_spark.streaming.bronze import start_bronze

    paths = PipelinePaths(str(tmp_path))
    os.makedirs(paths.raw, exist_ok=True)
    write_activity_files(paths.raw, num_files=25, rows_per_file=40)
    q = start_bronze(spark, paths, available_now=True)
    q.awaitTermination(180)
    progress = q.recentProgress
    batches = [p for p in progress if p["numInputRows"] > 0]
    assert len(batches) >= 3, f"expected >=3 micro-batches, got {len(batches)}"
    assert spark.read.parquet(paths.bronze).count() == 25 * 40


def test_csv_ingest_e2e(spark, tmp_path, ip_regions):
    """The pipeline's CSV ingest contract (reference S3: generator CSVs)
    flows end to end with the same schema enforcement as parquet."""
    paths = PipelinePaths(str(tmp_path))
    os.makedirs(paths.raw, exist_ok=True)
    write_activity_files(paths.raw, num_files=2, rows_per_file=150, fmt="csv")
    run_once(spark, paths, ip_regions, fmt="csv")
    bronze = spark.read.parquet(paths.bronze)
    gold = spark.read.parquet(paths.gold)
    assert bronze.count() == 300
    assert gold.count() > 0
    assert dict(bronze.dtypes)["watch_time"] == "double"


def _one_file(tmp_dir: str, name: str, rows: list[dict]) -> None:
    os.makedirs(tmp_dir, exist_ok=True)
    pd.DataFrame(rows)[
        ["log_id", "user_id", "timestamp", "ip_address", "watch_time(min)"]
    ].to_parquet(os.path.join(tmp_dir, name), index=False)


def _row(log_id, ts, user="user_1", ip="10.0.0.1", wt=30):
    return {
        "log_id": log_id,
        "user_id": user,
        "timestamp": ts,
        "ip_address": ip,
        "watch_time(min)": wt,
    }


@pytest.mark.slow
def test_incremental_gold_equals_recompute(spark, tmp_path, ip_regions):
    """The merge-based incremental Gold must produce exactly the same
    snapshot as the full recompute, across multiple micro-batches."""
    inc = PipelinePaths(str(tmp_path / "inc"))
    full = PipelinePaths(str(tmp_path / "full"))
    for paths in (inc, full):
        os.makedirs(paths.raw, exist_ok=True)
        write_activity_files(paths.raw, num_files=2, rows_per_file=300)
    run_once(spark, inc, ip_regions, gold_mode="incremental")
    run_once(spark, full, ip_regions, gold_mode="recompute")

    # second wave of files (disjoint names!) → second merge on the
    # incremental side; overwriting wave-one names would be silently
    # ignored by the file-stream source's processed-file log.
    for paths in (inc, full):
        write_activity_files(
            paths.raw, num_files=1, rows_per_file=150, seed=99, start_index=10
        )
    run_once(spark, inc, ip_regions, gold_mode="incremental")
    run_once(spark, full, ip_regions, gold_mode="recompute")

    # the second wave must actually have landed
    assert spark.read.parquet(inc.bronze).count() > 2 * 300 * 0.9

    def snap(paths):
        return sorted(
            (r.user_id, round(r.total_watch_time, 6), r.geo_region)
            for r in spark.read.parquet(paths.gold).collect()
        )

    assert snap(inc) == snap(full)
    assert len(snap(inc)) > 0


def test_watermark_dedup_semantics(spark, tmp_path, ip_regions):
    """Duplicates within the 2h horizon are dropped across micro-batches;
    records with event time older than the advanced watermark — duplicate
    or brand new — are filtered as late data (verified OSS Structured
    Streaming behavior: the watermark's late-record filter runs before the
    dedup operator, for both dropDuplicates and
    dropDuplicatesWithinWatermark)."""
    paths = PipelinePaths(str(tmp_path))

    # Batch 1: log_a at 00:00, log_b at 10:00 → watermark advances to 08:00.
    _one_file(
        paths.raw,
        "f1.parquet",
        [
            _row("log_a", "2024-02-01T00:00:00"),
            _row("log_b", "2024-02-01T10:00:00"),
        ],
    )
    run_once(spark, paths, ip_regions)

    # Batch 2: dup of log_b within horizon → dropped by dedup state;
    # dup of log_a and NEW log_c, both at 00:00 (< watermark 08:00) →
    # dropped as late data; in-horizon NEW log_d → admitted.
    _one_file(
        paths.raw,
        "f2.parquet",
        [
            _row("log_b", "2024-02-01T10:00:00"),
            _row("log_a", "2024-02-01T00:00:00"),
            _row("log_c", "2024-02-01T00:00:00"),
            _row("log_d", "2024-02-01T09:30:00"),
        ],
    )
    run_once(spark, paths, ip_regions)

    silver = spark.read.parquet(paths.silver)
    counts = {
        r.log_id: r.n
        for r in silver.groupBy("log_id").agg(F.count("*").alias("n")).collect()
    }
    assert counts["log_b"] == 1, "in-horizon duplicate must be dropped"
    assert counts["log_a"] == 1, "late duplicate filtered as late data"
    assert "log_c" not in counts, "late new record filtered as late data"
    assert counts["log_d"] == 1, "in-horizon new record admitted"


def test_bronze_replay_epoch_is_idempotent(spark, tmp_path):
    """A replayed micro-batch (same epoch_id) must not duplicate rows in
    either sink — the epoch markers give plain-parquet sinks the
    effectively-once append the reference got from Delta."""
    from investcloud_data_pipeline_spark.streaming.bronze import (
        bronze_process_batch,
    )
    from investcloud_data_pipeline_spark.config import RAW_SCHEMA

    paths = PipelinePaths(str(tmp_path))
    rows = [
        _row("a", "2024-01-01T00:00:00"),
        _row("b", "2024-01-01T01:00:00"),
        _row("bad", "2024-01-01T02:00:00", wt=-5),
    ]
    batch = spark.createDataFrame(
        pd.DataFrame(rows)[
            ["log_id", "user_id", "timestamp", "ip_address", "watch_time(min)"]
        ],
        schema=RAW_SCHEMA,
    )
    bronze_process_batch(paths, batch, epoch_id=0)
    bronze_process_batch(paths, batch, epoch_id=0)  # replay after "crash"
    assert spark.read.parquet(paths.bronze).count() == 2
    assert spark.read.parquet(paths.quarantine).count() == 1
    # a genuinely new epoch still appends
    batch2 = spark.createDataFrame(
        pd.DataFrame([_row("c", "2024-01-01T03:00:00")])[
            ["log_id", "user_id", "timestamp", "ip_address", "watch_time(min)"]
        ],
        schema=RAW_SCHEMA,
    )
    bronze_process_batch(paths, batch2, epoch_id=1)
    assert spark.read.parquet(paths.bronze).count() == 3


def test_gold_incremental_replay_epoch_no_double_count(spark, tmp_path, ip_regions):
    """merge_gold_incremental consults epoch_id: re-merging a replayed
    micro-batch must not double-count watch_time in the totals."""
    from investcloud_data_pipeline_spark.streaming.gold import (
        merge_gold_incremental,
    )

    paths = PipelinePaths(str(tmp_path))
    os.makedirs(paths.root, exist_ok=True)
    batch = spark.createDataFrame(
        [
            ("u1", "NA", 10.0),
            ("u1", "EU", 5.0),
            ("u2", "NA", 7.0),
        ],
        "user_id string, geo_region string, watch_time double",
    )
    merge_gold_incremental(spark, paths, batch, epoch_id=0)
    snap1 = sorted(
        (r.user_id, r.total_watch_time, r.geo_region)
        for r in spark.read.parquet(paths.gold).collect()
    )
    assert snap1 == [("u1", 15.0, "NA"), ("u2", 7.0, "NA")]

    merge_gold_incremental(spark, paths, batch, epoch_id=0)  # replay
    snap2 = sorted(
        (r.user_id, r.total_watch_time, r.geo_region)
        for r in spark.read.parquet(paths.gold).collect()
    )
    assert snap2 == snap1  # no double-count

    batch2 = spark.createDataFrame(
        [("u1", "EU", 20.0)], "user_id string, geo_region string, watch_time double"
    )
    merge_gold_incremental(spark, paths, batch2, epoch_id=1)
    snap3 = sorted(
        (r.user_id, r.total_watch_time, r.geo_region)
        for r in spark.read.parquet(paths.gold).collect()
    )
    assert snap3 == [("u1", 35.0, "EU"), ("u2", 7.0, "NA")]


def test_connected_components_raises_on_non_convergence(spark, monkeypatch):
    """A chain longer than max_iter hops must raise, not silently return
    split components. Only the distributed loop has a round bound, so
    the driver edge limit is set to 0 to force it."""
    from investcloud_data_pipeline_spark.operators import graph
    from investcloud_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    monkeypatch.setattr(graph, "DRIVER_EDGE_LIMIT", 0)

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3)
    ok = connected_components(chain, max_iter=15)
    assert ok.select("component").distinct().count() == 1


@pytest.mark.slow
def test_silver_dedup_state_store_providers_agree(spark, tmp_path, ip_regions):
    """The watermarked dedup runs on BOTH state store providers — the
    default HDFS-backed one and RocksDB (the 100 TB posture, where
    dedup state exceeds executor heap and must spill to local SST
    files) — with row-identical silver output. Each run also proves its
    provider actually engaged by inspecting the state checkpoint's file
    shapes (RocksDB writes zip/changelog snapshots; the HDFS provider
    writes .delta files), so a silently-ignored conf can't fake a pass."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(key, None)
    results = {}
    try:
        for label, provider in (("hdfs", None), ("rocksdb", rocksdb)):
            if provider is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, provider)
            paths = PipelinePaths(str(tmp_path / label))
            os.makedirs(paths.raw, exist_ok=True)
            write_activity_files(paths.raw, num_files=2, rows_per_file=300)
            run_once(spark, paths, ip_regions)
            silver = spark.read.parquet(paths.silver)
            assert silver.count() == silver.select("log_id").distinct().count()
            results[label] = sorted(
                (r.log_id, r.user_id, r.watch_time, r.geo_region)
                for r in silver.collect()
            )
            state_files = [
                os.path.join(dp, f)
                for dp, _, fs in os.walk(
                    os.path.join(paths.checkpoint("silver"), "state")
                )
                for f in fs
            ]
            assert state_files, f"{label}: no state files written"
            has_rocks = any(
                f.endswith((".zip", ".changelog")) for f in state_files
            )
            has_delta = any(f.endswith(".delta") for f in state_files)
            if label == "rocksdb":
                assert has_rocks, state_files[:5]
            else:
                assert has_delta and not has_rocks, state_files[:5]
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert results["hdfs"] == results["rocksdb"] and results["hdfs"]


@pytest.mark.slow
def test_byte_budget_admission_bronze_e2e(spark, tmp_path, ip_regions):
    """T5 byte cap: bronze over the budget_files source drains a 6-file
    backlog in byte-budgeted batches (≈2 files each) by looping
    availableNow starts (Python-source single-batch fallback) on one
    checkpoint — full row conservation, exactly once."""
    import glob

    from investcloud_data_pipeline_spark.streaming.bronze import start_bronze

    paths = PipelinePaths(str(tmp_path))
    os.makedirs(paths.raw, exist_ok=True)
    write_activity_files(paths.raw, num_files=6, rows_per_file=40)
    one = os.path.getsize(sorted(glob.glob(f"{paths.raw}/*.parquet"))[0])

    def bronze_count():
        try:
            return spark.read.parquet(paths.bronze).count()
        except Exception:
            return 0

    rounds, prev = 0, -1
    while rounds < 10:
        q = start_bronze(
            spark,
            paths,
            available_now=True,
            max_bytes_per_trigger=str(int(one * 2.5)),
        )
        q.awaitTermination(120)
        cur = bronze_count()
        if cur == prev:
            break
        prev = cur
        rounds += 1
    # 6 files at ~2 per budgeted batch → 3 data rounds (+1 empty probe)
    assert rounds == 3
    assert bronze_count() == 6 * 40
