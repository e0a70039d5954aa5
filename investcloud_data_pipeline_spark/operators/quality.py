"""Parse / cast / validity-split operators (Bronze layer).

Reference: databricks_notebooks/01_bronze_layer_ingestion.py — rename
(01:32), to_timestamp (01:35), cast (01:36), validity predicate (01:39-45),
valid/invalid routing (01:48-49), quarantine decoration (01:50-51), final
projection (01:54-60).

Design note (scale): the reference runs the valid and quarantine branches
as two independent streaming queries over the same source, reading every
byte twice (01:66-84). Here the split is a pure batch transform used once
per micro-batch inside ``foreachBatch`` (see streaming/bronze.py), so the
source is scanned exactly once and the filter is evaluated on the cached
parsed batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DQ_REASON


def parse_raw(df: DataFrame) -> DataFrame:
    """P1-P3: normalize the raw column name, parse event time, cast metric.

    Keeps both the original and parsed columns so the quarantine branch can
    report the offending raw values.
    """
    # try_to_timestamp: Spark 4 runs ANSI mode by default, where
    # to_timestamp throws on malformed input; the reference's Spark 3
    # behavior (null on parse failure, routing the row to quarantine via
    # the isNotNull predicate at 01:42) is the try_ variant here.
    return (
        df.withColumnRenamed("watch_time(min)", "watch_time")
        .withColumn("timestamp_parsed", F.try_to_timestamp(F.col("timestamp")))
        .withColumn("watch_time_parsed", F.col("watch_time").cast("double"))
    )


def validity_condition(
    id_col: str = "log_id",
    user_col: str = "user_id",
    ts_col: str = "timestamp_parsed",
    value_col: str = "watch_time_parsed",
) -> Column:
    """F1: conjunctive null/validity predicate (reference 01:39-45)."""
    return (
        F.col(id_col).isNotNull()
        & F.col(user_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
        & (F.col(value_col) >= 0)
    )


def split_quality(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """F2 + P4-P6: fan one parsed input into (valid, quarantine).

    Valid branch projects to the canonical Bronze shape (5 cols, parsed
    values under canonical names). Quarantine branch keeps raw values and
    adds ``dq_reason`` + ``processing_time``.
    """
    cond = validity_condition()
    valid = parsed.filter(cond).select(
        F.col("log_id"),
        F.col("user_id"),
        F.col("timestamp_parsed").alias("timestamp"),
        F.col("ip_address"),
        F.col("watch_time_parsed").alias("watch_time"),
    )
    quarantine = (
        parsed.filter(~cond)
        .select("log_id", "user_id", "timestamp", "ip_address", "watch_time")
        .withColumn("dq_reason", F.lit(DQ_REASON))
        .withColumn("processing_time", F.current_timestamp())
    )
    return valid, quarantine
