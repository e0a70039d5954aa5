"""Gold layer: per-user argmax aggregation as a streaming snapshot (K4').

Reference: 03_gold_layer_aggregation.py — aggregate → window → aggregate
in ``complete`` output mode. OSS Structured Streaming rejects the
non-time window function and the chained aggregation on a stream
(SURVEY §3.3), and file sinks don't support complete mode. Only the
first aggregate has to be streaming, so the plan is split in two:

* A1 (``region_totals``: (user, region) → sum of watch time) is a
  stateful streaming aggregation over the silver file stream in
  ``complete`` output mode. Its totals live in Spark's state store, so a
  trigger reads only the new silver files plus the state of
  |user × region| rows, never the silver history.
* ``foreachBatch`` receives the complete totals relation — a plain batch
  DataFrame, on which the window and the second aggregate are legal —
  runs ``top_region_with_total`` over it and overwrites the gold
  snapshot: the complete-mode semantics of 03:38. The snapshot has one
  row per user with ``config.GOLD_SCHEMA``'s four columns: ``user_id``,
  ``total_watch_time`` (the true total across regions), ``geo_region``
  (the argmax region) and ``top_region_watch_time`` (that region's
  total — the value the reference computes as "total_watch_time").

Exactly-once: the checkpoint's offset and commit logs plus the state
store's versions give it. A batch replayed after a crash re-reads the
state version its first attempt read and rewrites the same snapshot.

Checkpoint compatibility: a gold checkpoint written by the earlier
stateless gold query (it had no state store) fails to restart with
``CANNOT_LOAD_STATE_STORE`` rather than resuming from empty totals.
Delete the gold checkpoint and ``paths.gold`` to rebuild gold from the
silver table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..config import SILVER_SCHEMA, PipelinePaths
from ..operators.gold import region_totals, top_region_with_total

SILVER_SINK_SCHEMA = T.StructType(
    list(SILVER_SCHEMA.fields) + [T.StructField("event_date", T.DateType(), True)]
)


def start_gold(
    spark: SparkSession,
    paths: PipelinePaths,
    available_now: bool = False,
    trigger_seconds: int = 60,
) -> StreamingQuery:
    """Start gold: silver file stream → complete-mode (user, region)
    totals → argmax snapshot overwritten at ``paths.gold`` per trigger."""
    silver_stream = (
        spark.readStream.format("parquet")
        .schema(SILVER_SINK_SCHEMA)
        .load(paths.silver)
    )

    def write_snapshot(totals: DataFrame, epoch_id: int) -> None:
        top_region_with_total(totals).write.mode("overwrite").parquet(paths.gold)

    writer = (
        region_totals(silver_stream)
        .writeStream.outputMode("complete")
        .foreachBatch(write_snapshot)
        .option("checkpointLocation", paths.checkpoint("gold"))
        .queryName("gold_snapshot")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
