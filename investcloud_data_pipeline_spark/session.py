"""SparkSession factory with scale-aware defaults.

The reference defers all tuning ("Future Enhancements",
docs/architecture_design.md:109). Here the session is configured for the
100 TB posture from the start:

* AQE on (runtime coalescing, skew-join splitting, dynamic join strategy) —
  at 1000 executors the static plan is always wrong somewhere; AQE re-plans
  from real shuffle statistics.
* ``spark.sql.shuffle.partitions`` sized to the local core count for tests;
  on a real cluster AQE's coalescing makes the initial number a ceiling,
  not a target.
* UTC session timezone so event-time semantics are stable across engines
  (and match the DuckDB oracle).
* Arrow enabled so pandas interchange (``mapInPandas``/pandas UDFs) is
  batch-columnar, never row-at-a-time pickling.
* Streaming checkpoints (offsets, commit logs, file-source and sink logs,
  state-store deltas) are written through Spark's
  ``FileSystemBasedCheckpointFileManager``. The default FileContext
  manager resolves symlinks on every rename and sets permissions on every
  create; without the native Hadoop library each of those calls forks a
  ``readlink``/``chmod`` process, hundreds per medallion landing. Sessions built
  here are ``local[N]``, so checkpoints sit on the local filesystem, where
  ``FileSystem.rename`` is a POSIX ``rename(2)`` (atomic replace) and the
  fail-if-exists check is the same check-then-rename FileContext does
  there. Hadoop ``.crc`` sidecars and Spark's state-file checksums are
  still written and verified. This does NOT carry over to HDFS or object
  stores, where only FileContext's overwrite-rename is atomic: a cluster
  deployment keeps Spark's default manager.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "investcloud_data_pipeline_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults.

    On a real cluster the same configs apply, except the checkpoint file
    manager, which goes back to Spark's default (module docstring); and
    ``master`` changes.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # File-stream sources and wide parquet scans: keep split size large
        # enough that task scheduling overhead doesn't dominate at scale.
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
