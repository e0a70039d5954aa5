"""Gold-layer aggregation: per-user totals + argmax region.

Reference plan (03_gold_layer_aggregation.py:21-31):
  A1  groupBy(user_id, geo_region).sum(watch_time)        -> watch_time_by_region
  W1  rank() over (partition user_id order by sum desc)
  F3  rank == 1
  A2  groupBy(user_id).agg(sum(watch_time_by_region), first(geo_region))

Two deliberate fixes (SURVEY §4.3 / §7.4):
* ``first()`` on rank ties is nondeterministic → ``row_number`` with a full
  tie-break ordering (value desc, then region asc).
* The reference's "total_watch_time" actually sums only rank-1 (tied)
  regions. One step, ``top_region_with_total``, exposes both semantics
  explicitly: ``top_region_watch_time`` is the reference's value (the
  top region's watch time, deterministic ties) and ``total_watch_time``
  is the user's TRUE total across all regions. The step is separate
  from ``region_totals`` so streaming gold can run it over its state
  store's totals and the batch registry over its own; the total is a
  second window over the same user-partitioning (Catalyst reuses one
  exchange + sort for both window functions — one shuffle on (user,
  region) for A1, one on user for the windows; no third shuffle).

Shuffle profile at scale: exchange hash(user, region) → partial+final
HashAggregate → exchange hash(user) → single sort serving both window
functions. Both keys are high-cardinality user-derived keys, so skew is
bounded by the hottest user; AQE skew handling splits oversized partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def region_totals(
    df: DataFrame,
    user_col: str = "user_id",
    region_col: str = "geo_region",
    value_col: str = "watch_time",
) -> DataFrame:
    """A1: two-key grouped sum."""
    return df.groupBy(user_col, region_col).agg(
        F.sum(value_col).alias("watch_time_by_region")
    )


def top_region_with_total(
    totals: DataFrame, user_col: str = "user_id", region_col: str = "geo_region"
) -> DataFrame:
    """W1+F3+A2 over ``region_totals`` output: one row per user — true
    total across regions, the argmax region (largest region total first,
    ties by region name) and that region's total. Both windows share one
    partitioning/sort on ``user_col``. Streaming gold runs this over the
    complete-mode totals of its state store."""
    top_first = Window.partitionBy(user_col).orderBy(
        F.col("watch_time_by_region").desc(), F.col(region_col).asc()
    )
    return (
        totals.withColumn("rn", F.row_number().over(top_first))
        .withColumn(
            "total_watch_time",
            F.sum("watch_time_by_region").over(Window.partitionBy(user_col)),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col(user_col),
            F.col("total_watch_time"),
            F.col(region_col).alias("geo_region"),
            F.col("watch_time_by_region").alias("top_region_watch_time"),
        )
    )


def user_argmax_totals(
    df: DataFrame,
    user_col: str = "user_id",
    region_col: str = "geo_region",
    value_col: str = "watch_time",
) -> DataFrame:
    """Flagship Gold: ``top_region_with_total`` over ``region_totals``."""
    return top_region_with_total(
        region_totals(df, user_col, region_col, value_col), user_col, region_col
    )
