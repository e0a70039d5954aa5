"""Pipeline orchestration: bronze → silver → gold in dependency order.

Replaces the reference's Databricks Jobs / ADF on-success chaining
(docs/architecture_design.md:73-93) with a plain runner. Two modes:

* ``run_once``: drain everything currently in the raw directory through
  all three layers with ``availableNow`` triggers (test/backfill mode —
  also the deterministic harness for the e2e self-oracle test).
* ``start_continuous``: start all three queries with processing-time
  triggers and return them (production mode).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..config import PipelinePaths
from .bronze import start_bronze
from .gold import start_gold
from .silver import start_silver


def _ensure_dirs(paths: PipelinePaths) -> None:
    # File-source streams require the directory to exist before start.
    for d in (paths.raw, paths.bronze, paths.silver):
        os.makedirs(d, exist_ok=True)


def run_once(
    spark: SparkSession,
    paths: PipelinePaths,
    ip_regions: DataFrame,
    fmt: str = "parquet",
    timeout_s: int = 300,
) -> list[StreamingQuery]:
    """Drain raw → bronze → silver → gold synchronously (availableNow);
    returns the three terminated queries for their progress."""
    _ensure_dirs(paths)
    q1 = start_bronze(spark, paths, fmt=fmt, available_now=True)
    q1.awaitTermination(timeout_s)
    q2 = start_silver(spark, paths, ip_regions, available_now=True)
    q2.awaitTermination(timeout_s)
    q3 = start_gold(spark, paths, available_now=True)
    q3.awaitTermination(timeout_s)
    return [q1, q2, q3]


def start_continuous(
    spark: SparkSession,
    paths: PipelinePaths,
    ip_regions: DataFrame,
    fmt: str = "parquet",
    trigger_seconds: int = 60,
) -> list[StreamingQuery]:
    """Start all three layer queries (1-minute cadence like the
    reference's trigger(processingTime="1 minute"), 01:71 etc.)."""
    _ensure_dirs(paths)
    return [
        start_bronze(spark, paths, fmt=fmt, trigger_seconds=trigger_seconds),
        start_silver(spark, paths, ip_regions, trigger_seconds=trigger_seconds),
        start_gold(spark, paths, trigger_seconds=trigger_seconds),
    ]
