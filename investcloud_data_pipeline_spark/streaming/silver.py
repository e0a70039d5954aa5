"""Silver layer: streaming global dedup + geo enrichment (S2, D1/T1, J1, K3).

Reference: 02_silver_layer_processing.py. The table-as-stream scan
(02:11-15, Delta ``ignoreChanges``) becomes a parquet file-source stream
over the bronze sink directory — appends-only, so the changefeed
semantics are identical.

Dedup: the reference's ``withWatermark(...).dropDuplicates([key])``
(02:19-23) relies on Databricks to bound state. OSS Spark's contract for
watermark-bounded key state is ``dropDuplicatesWithinWatermark``:
duplicates within the 2-hour horizon are dropped (02:21 /
docs/architecture_design.md:101), and records older than the advanced
watermark — duplicate or new — are filtered as late data before the
dedup operator (empirically identical for both dedup APIs). State
store backend is configurable; at 100 TB-scale key cardinality switch to
RocksDB via spark.sql.streaming.stateStore.providerClass (config, not
code).

Enrichment: stream-static broadcast left join (the reference's own stated
production design, 00_utils.py:39-40) instead of the per-row Python UDF.

Counters: each trigger's progress already carries the input row count
(``numInputRows``), the event-time range (``eventTime`` min/max/avg and
the watermark) and the dedup state store's late-row drops
(``numRowsDroppedByWatermark``), so the query adds no ``observe`` of its
own; ``late_drop_stats`` sums them. That makes the watermark's silent
late-row drops (SURVEY §2.5 — the reference's dedup drops late rows with
no signal at all) observable at no cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..config import BRONZE_SCHEMA, WATERMARK_DELAY, PipelinePaths
from ..operators.enrich import geo_enrich

BRONZE_SINK_SCHEMA = T.StructType(
    list(BRONZE_SCHEMA.fields) + [T.StructField("event_date", T.DateType(), True)]
)


def start_silver(
    spark: SparkSession,
    paths: PipelinePaths,
    ip_regions: DataFrame,
    available_now: bool = False,
    trigger_seconds: int = 60,
) -> StreamingQuery:
    bronze_stream = (
        spark.readStream.format("parquet")
        .schema(BRONZE_SINK_SCHEMA)
        .load(paths.bronze)
    )
    deduped = bronze_stream.withWatermark(
        "timestamp", WATERMARK_DELAY
    ).dropDuplicatesWithinWatermark(["log_id"])
    enriched = geo_enrich(deduped, ip_regions)
    writer = (
        enriched.writeStream.format("parquet")
        .outputMode("append")
        .option("path", paths.silver)
        .option("checkpointLocation", paths.checkpoint("silver"))
        .partitionBy("event_date")
        .queryName("silver_dedup_enrich")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def late_drop_stats(progresses) -> dict:
    """Aggregate the silver stage's late-data observability counters from
    ``StreamingQuery.recentProgress`` (or any iterable of progress
    dicts), in the same surfaced-counter style as the bronze DQ
    metrics. Every counter is one Spark already reports in each
    trigger's progress; silver attaches no observation of its own.

    ``rows_in`` is the sum of the triggers' ``numInputRows``;
    ``rows_dropped_late`` is the state store's own
    ``numRowsDroppedByWatermark`` (rows older than the advanced
    watermark that the dedup operator discarded BEFORE consideration —
    the drop the reference's pipeline performs silently, SURVEY §2.5);
    ``rows_deduped`` is what actually entered/updated dedup state.
    A monitoring hook alerts on ``rows_dropped_late`` exactly like it
    alerts on quarantine volume.
    """
    out = {"rows_in": 0, "rows_dropped_late": 0, "rows_deduped": 0}
    for p in progresses:
        out["rows_in"] += p["numInputRows"]
        for op in p["stateOperators"]:
            if op["operatorName"] == "dedupeWithinWatermark":
                out["rows_dropped_late"] += op["numRowsDroppedByWatermark"]
                out["rows_deduped"] += op["numRowsUpdated"]
    return out
