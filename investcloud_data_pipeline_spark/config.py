"""Schemas and path configuration for the activity-log pipeline.

Replaces the reference's ``databricks_notebooks/00_utils.py``: the ADLS
mount/secret plumbing (00_utils.py:60-88) becomes plain local paths, and
``RAW_SCHEMA`` (00_utils.py:30-36) — which the reference declares but never
passes to a reader — is actually enforced at every read here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import types as T

# Raw activity-log input contract (reference 00_utils.py:30-36; the
# parenthesised column name `watch_time(min)` is deliberate — it is what the
# generator emits, data_generator.py:43-49).
RAW_SCHEMA = T.StructType(
    [
        T.StructField("log_id", T.StringType(), True),
        T.StructField("user_id", T.StringType(), True),
        T.StructField("timestamp", T.StringType(), True),
        T.StructField("ip_address", T.StringType(), True),
        T.StructField("watch_time(min)", T.LongType(), True),
    ]
)

# Raw schema + corrupt-record capture column for PERMISSIVE csv/json reads
# (stands in for Auto Loader's badRecordsPath, reference 01:19).
CORRUPT_COL = "_corrupt_record"
RAW_SCHEMA_WITH_CORRUPT = T.StructType(
    list(RAW_SCHEMA.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
)

# Bronze valid output shape (reference 01:54-60).
BRONZE_SCHEMA = T.StructType(
    [
        T.StructField("log_id", T.StringType(), True),
        T.StructField("user_id", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("ip_address", T.StringType(), True),
        T.StructField("watch_time", T.DoubleType(), True),
    ]
)

# Silver = Bronze + geo_region (reference 02:19-26).
SILVER_SCHEMA = T.StructType(
    list(BRONZE_SCHEMA.fields) + [T.StructField("geo_region", T.StringType(), True)]
)

# Gold snapshot = per-user true total + argmax region + that region's
# total, the reference's "total_watch_time" (reference 03:29-31; see
# operators/gold.py for the two semantics).
GOLD_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType(), True),
        T.StructField("total_watch_time", T.DoubleType(), True),
        T.StructField("geo_region", T.StringType(), True),
        T.StructField("top_region_watch_time", T.DoubleType(), True),
    ]
)

REGIONS = [
    "North America",
    "Europe",
    "Asia",
    "South America",
    "Africa",
    "Oceania",
]  # reference 00_utils.py:42-48

UNKNOWN_REGION = "Unknown"  # reference 00_utils.py:57 default on lookup miss

WATERMARK_DELAY = "2 hours"  # reference 02:21 dedup state horizon
DQ_REASON = "Failed semantic validation: null keys or negative watch_time"  # 01:50


@dataclass
class PipelinePaths:
    """Filesystem layout for one pipeline instance (replaces the Delta/ADLS
    paths in reference 00_utils.py:14-26). ``root`` is typically a tmpdir in
    tests or a durable volume in production."""

    root: str
    raw: str = field(init=False)
    bronze: str = field(init=False)
    quarantine: str = field(init=False)
    silver: str = field(init=False)
    gold: str = field(init=False)
    checkpoints: str = field(init=False)

    def __post_init__(self) -> None:
        self.raw = os.path.join(self.root, "raw")
        self.bronze = os.path.join(self.root, "bronze")
        self.quarantine = os.path.join(self.root, "bronze_quarantine")
        self.silver = os.path.join(self.root, "silver")
        self.gold = os.path.join(self.root, "gold")
        self.checkpoints = os.path.join(self.root, "_checkpoints")

    def checkpoint(self, query_name: str) -> str:
        return os.path.join(self.checkpoints, query_name)
