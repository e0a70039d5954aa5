"""Streaming throughput benchmark for the medallion pipeline.

The batch bench (bench.py) covers the 169 registry queries; this tool
covers the repo's OTHER identity — the reference is a streaming pipeline
(01:66-84, 02:30-37, 03:35-42) — so a streaming perf regression is
visible in a committed artifact, not just test pass/fail.

Protocol: generate a deterministic multi-file activity corpus (seeded
datagen, dirty rows included so the DQ split does real work), then drain
it bronze → silver → gold with ``availableNow`` triggers, timing each
layer's wall clock separately (generation time excluded). Per-layer
rows/sec uses each layer's own input row count (bronze reads raw rows,
silver reads the valid subset); the end-to-end number is raw rows over
the summed drain wall.

Batch counts and per-query input rows come from the engine's own
StreamingQuery.recentProgress, so the artifact also records HOW the
drain executed (micro-batch admission shape), not just how fast.

Usage:
    python tools/bench_streaming.py [out.json]
        SPARK_GRAFT_STREAM_FILES=20 SPARK_GRAFT_STREAM_ROWS=50000
        SPARK_GRAFT_STREAM_FMT=csv
        SPARK_GRAFT_STREAM_SKEW=0.5   # one user owns this share of rows

``SPARK_GRAFT_STREAM_SKEW`` (round-7 verdict task #4) drives the SAME
pipeline with a hot user owning that fraction of the stream — the
adversarial shape for the gold per-user aggregation (the silver dedup keys
on log_id, which stays uniform by construction). The artifact records
the skew so uniform/skewed runs are comparable side by side.

Prints ONE JSON line and (optionally) writes the full artifact to
``out.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _progress_stats(query) -> dict:
    """Micro-batch count + engine-reported input rows for one drained
    availableNow query (recentProgress survives termination)."""
    progresses = [
        p if isinstance(p, dict) else json.loads(str(p.json))
        for p in query.recentProgress
    ]
    n_rows = sum(int(p.get("numInputRows", 0)) for p in progresses)
    return {"batches": len(progresses), "engine_input_rows": n_rows}


ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def main() -> int:
    out_json = sys.argv[1] if len(sys.argv) > 1 else None
    n_files = int(os.environ.get("SPARK_GRAFT_STREAM_FILES", "20"))
    rows_per_file = int(os.environ.get("SPARK_GRAFT_STREAM_ROWS", "50000"))
    fmt = os.environ.get("SPARK_GRAFT_STREAM_FMT", "csv")
    # hdfs (default provider) | rocksdb — the silver dedup layer is the
    # stateful one, so the provider choice shows up in its drain rate;
    # recording both makes the RocksDB 100 TB posture a measured number.
    provider = os.environ.get("SPARK_GRAFT_STREAM_STATE", "hdfs")
    hot_frac = float(os.environ.get("SPARK_GRAFT_STREAM_SKEW", "0"))

    from investcloud_data_pipeline_spark.config import PipelinePaths
    from investcloud_data_pipeline_spark.datagen import (
        make_ip_region_frame,
        write_activity_files,
    )
    from investcloud_data_pipeline_spark.session import get_spark
    from investcloud_data_pipeline_spark.streaming.bronze import start_bronze
    from investcloud_data_pipeline_spark.streaming.gold import start_gold
    from investcloud_data_pipeline_spark.streaming.silver import start_silver

    spark = get_spark("bench_streaming")
    if provider == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB
        )
    root = tempfile.mkdtemp(prefix="bench_streaming_")
    try:
        paths = PipelinePaths(root)
        for d in (paths.raw, paths.bronze, paths.silver):
            os.makedirs(d, exist_ok=True)
        write_activity_files(
            paths.raw,
            num_files=n_files,
            rows_per_file=rows_per_file,
            fmt=fmt,
            dirty_fraction=0.02,
            hot_user_fraction=hot_frac,
        )
        n_raw = n_files * rows_per_file
        raw_bytes = sum(
            os.path.getsize(os.path.join(paths.raw, f))
            for f in os.listdir(paths.raw)
        )
        ip_regions = spark.createDataFrame(make_ip_region_frame())
        # Warm the JVM so layer 1 isn't charged for codegen/session init.
        spark.range(1000).groupBy("id").count().count()

        layers: dict[str, dict] = {}

        t0 = time.time()
        q = start_bronze(spark, paths, fmt=fmt, available_now=True)
        q.awaitTermination(1800)
        layers["bronze"] = {
            "wall_s": round(time.time() - t0, 3),
            **_progress_stats(q),
        }

        t0 = time.time()
        q = start_silver(spark, paths, ip_regions, available_now=True)
        q.awaitTermination(1800)
        layers["silver"] = {
            "wall_s": round(time.time() - t0, 3),
            **_progress_stats(q),
        }

        t0 = time.time()
        q = start_gold(spark, paths, available_now=True)
        q.awaitTermination(1800)
        layers["gold"] = {
            "wall_s": round(time.time() - t0, 3),
            **_progress_stats(q),
        }

        n_bronze = spark.read.parquet(paths.bronze).count()
        n_quarantine = (
            spark.read.parquet(paths.quarantine).count()
            if os.path.isdir(paths.quarantine)
            else 0
        )
        n_silver = spark.read.parquet(paths.silver).count()

        total_wall = round(sum(l["wall_s"] for l in layers.values()), 3)
        for name, n_in in (
            ("bronze", n_raw),
            ("silver", n_bronze),
            ("gold", n_silver),
        ):
            layers[name]["input_rows"] = n_in
            layers[name]["rows_per_sec"] = round(n_in / layers[name]["wall_s"], 1)

        result = {
            "metric": "streaming_pipeline_drain",
            "state_store": provider,
            "hot_user_fraction": hot_frac,
            "unit": "rows/sec",
            "value": round(n_raw / total_wall, 1),
            "total_wall_s": total_wall,
            "raw_rows": n_raw,
            "raw_bytes": raw_bytes,
            "raw_mb_per_sec": round(raw_bytes / 1e6 / total_wall, 2),
            "n_files": n_files,
            "fmt": fmt,
            "rows": {
                "bronze_valid": n_bronze,
                "quarantine": n_quarantine,
                "silver": n_silver,
            },
            "layers": layers,
        }
        # Sanity: conservation through the DQ split; dedup only shrinks.
        assert n_bronze + n_quarantine == n_raw, (n_bronze, n_quarantine, n_raw)
        assert n_silver <= n_bronze
        if hot_frac:
            # the skew actually reached the stateful layers
            from pyspark.sql import functions as SF

            from investcloud_data_pipeline_spark.datagen import HOT_USER

            n_hot = (
                spark.read.parquet(paths.silver)
                .filter(SF.col("user_id") == HOT_USER)
                .count()
            )
            result["hot_user_silver_rows"] = n_hot
            assert n_hot >= 0.8 * hot_frac * n_silver, (n_hot, n_silver)
        if out_json:
            with open(out_json, "w") as fh:
                json.dump(result, fh, indent=1, sort_keys=True)
        print(json.dumps(result, separators=(",", ":")))
        return 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
