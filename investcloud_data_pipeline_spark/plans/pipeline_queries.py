"""Reference-pipeline operators in batch form over the driver's ``events``
table (event_id≈log_id, user_id, ts≈timestamp, value≈watch_time,
event_type≈enrichment key — mapping per FIXTURES.md §B).

Each function returns a DataFrame; the matching ANSI-SQL oracle lives next
to it as a module constant. SURVEY §2 operator IDs cited per function.

The queries are built on the streaming pipeline's own operators — the
validity predicate (``operators/quality.py::validity_condition``), the
keyed dedup (``operators/dedup.py``), the lookup
enrichment and the gold argmax/total step
(``operators/gold.py::top_region_with_total``) — so each DuckDB oracle
checks the code the stream runs, not a copy of it.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import dedup_keep_first
from ..operators.enrich import enrich_lookup
from ..operators.gold import region_totals, top_region_with_total
from ..operators.quality import validity_condition
from ..sources.batch import load_table

# Exact 2-decimal arithmetic for metric sums (see plans/__init__ note).
DEC = "decimal(18,2)"

# Deterministic event_type → channel dimension (stands in for the IP→region
# map, reference 00_utils.py:41-52; 'error' deliberately unmapped to
# exercise the 'Unknown' default at 00_utils.py:57).
EVENT_CHANNELS = [
    ("click", "web"),
    ("view", "web"),
    ("purchase", "commerce"),
    ("signup", "growth"),
]
EVENT_CHANNELS_SQL_VALUES = ", ".join(f"('{k}', '{v}')" for k, v in EVENT_CHANNELS)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _valid_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 on the events domain (reference 01:39-45)."""
    return _events(spark, sf_dir).filter(
        validity_condition("event_id", "user_id", "ts", "value")
    )


VALID_SQL_WHERE = (
    "event_id IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL "
    "AND value IS NOT NULL AND value >= 0"
)


def bronze_quality_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2 valid branch + P4 projection (reference 01:48, 01:54-60)."""
    return _valid_events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )


BRONZE_QUALITY_VALID_SQL = f"""
SELECT event_id, user_id, ts, event_type, value
FROM events WHERE {VALID_SQL_WHERE}
"""


_DIRTY_ROWS = [
    (-1, None, None, "corrupt", -5.0),                     # null user + ts
    (-2, 42, datetime(2024, 1, 1), "corrupt", None),       # null value
    (-3, 7, datetime(2024, 1, 2), "corrupt", -0.01),       # negative value
]


def bronze_quality_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 invalid branch + P5 dq_reason literal (reference 01:49-50).

    The driver's events table is entirely valid, which would make this a
    vacuous 0-row check — so the query appends a deterministic dirty
    triplet (null user/ts, null value, negative value) before routing;
    the oracle injects the identical literals. Volume-scale dirty input
    is exercised by the streaming tests via the datagen dirty mode.

    ``processing_time`` (P6) is excluded from the oracle-checked shape —
    ``current_timestamp`` is inherently nondeterministic; it is covered by
    unit tests instead.
    """
    e = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    dirty = spark.createDataFrame(_DIRTY_ROWS, e.schema)
    invalid = e.unionByName(dirty).filter(
        ~validity_condition("event_id", "user_id", "ts", "value")
    )
    return invalid.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lit("Failed semantic validation").alias("dq_reason"),
    )


BRONZE_QUALITY_QUARANTINE_SQL = f"""
WITH all_events AS (
  SELECT event_id, user_id, ts, event_type, value FROM events
  UNION ALL
  SELECT * FROM (VALUES
    (CAST(-1 AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP), 'corrupt', CAST(-5.0 AS DOUBLE)),
    (CAST(-2 AS BIGINT), CAST(42 AS BIGINT), TIMESTAMP '2024-01-01 00:00:00', 'corrupt', CAST(NULL AS DOUBLE)),
    (CAST(-3 AS BIGINT), CAST(7 AS BIGINT), TIMESTAMP '2024-01-02 00:00:00', 'corrupt', CAST(-0.01 AS DOUBLE))
  ) AS t(event_id, user_id, ts, event_type, value)
)
SELECT event_id, user_id, ts, value, 'Failed semantic validation' AS dq_reason
FROM all_events WHERE NOT ({VALID_SQL_WHERE})
"""


def silver_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 batch form: deterministic keyed dedup on event_id, earliest ts
    wins (reference 02:19-23; determinism fix SURVEY §7.4)."""
    return dedup_keep_first(
        _valid_events(spark, sf_dir),
        keys=["event_id"],
        order_by=["ts", "user_id", "value"],
    ).select("event_id", "user_id", "ts", "event_type", "value")


SILVER_DEDUP_SQL = f"""
SELECT event_id, user_id, ts, event_type, value FROM (
  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts, user_id, value) AS rn
  FROM events WHERE {VALID_SQL_WHERE}
) WHERE rn = 1
"""


def silver_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/P7: broadcast-join enrichment with 'Unknown' default
    (reference 02:26, production design per 00_utils.py:39-40)."""
    dim = spark.createDataFrame(EVENT_CHANNELS, ["event_type", "channel"])
    return enrich_lookup(
        silver_dedup(spark, sf_dir),
        dim,
        key="event_type",
        value_col="channel",
        out_col="channel",
    ).select("event_id", "user_id", "ts", "event_type", "channel", "value")


SILVER_ENRICH_SQL = f"""
WITH dim(event_type, channel) AS (VALUES {EVENT_CHANNELS_SQL_VALUES}),
dedup AS (
  SELECT event_id, user_id, ts, event_type, value FROM (
    SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts, user_id, value) AS rn
    FROM events WHERE {VALID_SQL_WHERE}
  ) WHERE rn = 1
)
SELECT d.event_id, d.user_id, d.ts, d.event_type,
       coalesce(dim.channel, 'Unknown') AS channel, d.value
FROM dedup d LEFT JOIN dim USING (event_type)
"""


def gold_region_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: two-key grouped sum (reference 03:21-22), exact decimal sums."""
    return (
        silver_enrich(spark, sf_dir)
        .groupBy("user_id", "channel")
        .agg(
            F.sum(F.col("value").cast(DEC)).cast("double").alias("value_by_channel"),
            F.count("*").alias("n_events"),
        )
    )


GOLD_REGION_TOTALS_SQL = f"""
WITH dim(event_type, channel) AS (VALUES {EVENT_CHANNELS_SQL_VALUES}),
dedup AS (
  SELECT event_id, user_id, ts, event_type, value FROM (
    SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts, user_id, value) AS rn
    FROM events WHERE {VALID_SQL_WHERE}
  ) WHERE rn = 1
),
silver AS (
  SELECT d.*, coalesce(dim.channel, 'Unknown') AS channel
  FROM dedup d LEFT JOIN dim USING (event_type)
)
SELECT user_id, channel,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_by_channel,
       count(*) AS n_events
FROM silver GROUP BY user_id, channel
"""


def gold_user_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship Gold plan: A1 → W1(row_number) → F3 → per-user totals
    (reference 03:21-31 with the §7.4 determinism fixes) — streaming
    gold's ``region_totals`` + ``top_region_with_total`` over exact
    decimal values.

    One shuffle on (user_id, channel) for the aggregate, one on user_id
    shared by both window functions.
    """
    silver = silver_enrich(spark, sf_dir).withColumn("value", F.col("value").cast(DEC))
    top = top_region_with_total(
        region_totals(silver, "user_id", "channel", "value"), "user_id", "channel"
    )
    return top.select(
        "user_id",
        F.col("total_watch_time").cast("double").alias("total_value"),
        F.col("top_region_watch_time").cast("double").alias("top_channel_value"),
        F.col("geo_region").alias("top_channel"),
    )


GOLD_USER_ARGMAX_SQL = f"""
WITH dim(event_type, channel) AS (VALUES {EVENT_CHANNELS_SQL_VALUES}),
dedup AS (
  SELECT event_id, user_id, ts, event_type, value FROM (
    SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts, user_id, value) AS rn
    FROM events WHERE {VALID_SQL_WHERE}
  ) WHERE rn = 1
),
silver AS (
  SELECT d.*, coalesce(dim.channel, 'Unknown') AS channel
  FROM dedup d LEFT JOIN dim USING (event_type)
),
totals AS (
  SELECT user_id, channel, sum(CAST(value AS DECIMAL(18,2))) AS vbc
  FROM silver GROUP BY user_id, channel
)
SELECT user_id,
       CAST(total AS DOUBLE) AS total_value,
       CAST(vbc AS DOUBLE) AS top_channel_value,
       channel AS top_channel
FROM (
  SELECT user_id, channel, vbc,
         row_number() OVER (PARTITION BY user_id ORDER BY vbc DESC, channel ASC) AS rn,
         sum(vbc) OVER (PARTITION BY user_id) AS total
  FROM totals
) WHERE rn = 1
"""
