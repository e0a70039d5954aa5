"""Bronze layer: incremental file ingest + parse + DQ split (S1', K1, K2).

Reference: 01_bronze_layer_ingestion.py. Auto Loader's cloudFiles options
map to the OSS file source: explicit schema (required by OSS file
streams), checkpointed exactly-once sinks (01:70), and admission control
(T5, 01:17-18) through the file source's own ``maxFilesPerTrigger`` /
``maxBytesPerTrigger``. The reference sets both caps ("≤10 files and
≤10 GB"); the OSS file source accepts only one of them per query, so a
byte cap replaces the file cap rather than composing with it. Either
way at least one file is admitted per trigger, so a file larger than
the byte cap still makes progress, and the processed-file log under the
checkpoint's ``sources/0`` reads each landed file exactly once, whatever
its name.

The fix over the reference (SURVEY §4.3): 01:66-84 runs TWO streaming
queries over the same source — every file is read, parsed, and validated
twice. Here one query's ``foreachBatch`` persists the parsed micro-batch
and writes both sinks from it: one scan, one parse, two appends.

Scale posture: sinks are hive-partitioned by event date so downstream
readers (and the silver stream) get partition pruning; at 100 TB this is
the difference between scanning a day and scanning a year.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import RAW_SCHEMA, PipelinePaths
from ..operators.quality import parse_raw, split_quality
from .atomic import mark_sink_epoch, sink_epoch_committed


def read_raw_stream(
    spark: SparkSession,
    raw_dir: str,
    fmt: str = "parquet",
    max_files_per_trigger: int = 10,
    max_bytes_per_trigger: int | None = None,
) -> DataFrame:
    """S1': incremental directory scan with enforced schema (the OSS
    equivalent of cloudFiles, reference 01:13-29).

    Each trigger admits at most ``max_files_per_trigger`` files, or, when
    ``max_bytes_per_trigger`` (an integer byte count) is set, files up to
    that many bytes instead: Spark rejects a query that sets both caps.
    Every trigger with pending input reads at least one file."""
    reader = spark.readStream.format(fmt).schema(RAW_SCHEMA)
    if max_bytes_per_trigger is None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    else:
        reader = reader.option("maxBytesPerTrigger", max_bytes_per_trigger)
    if fmt == "csv":
        reader = reader.option("header", "true")
    return reader.load(raw_dir)


def bronze_process_batch(
    paths: PipelinePaths, batch_df: DataFrame, epoch_id: int
) -> None:
    """Parse once, split, append to both sinks — skipping any sink that
    already committed this epoch (idempotent under foreachBatch replay)."""
    parsed = parse_raw(batch_df).persist()
    try:
        valid, quarantine = split_quality(parsed)
        if not sink_epoch_committed(paths.bronze, epoch_id):
            (
                valid.withColumn("event_date", F.to_date("timestamp"))
                .write.mode("append")
                .partitionBy("event_date")
                .parquet(paths.bronze)
            )
            mark_sink_epoch(paths.bronze, epoch_id)
        if not sink_epoch_committed(paths.quarantine, epoch_id):
            quarantine.write.mode("append").parquet(paths.quarantine)
            mark_sink_epoch(paths.quarantine, epoch_id)
    finally:
        parsed.unpersist()


def start_bronze(
    spark: SparkSession,
    paths: PipelinePaths,
    fmt: str = "parquet",
    available_now: bool = False,
    trigger_seconds: int = 60,
    max_bytes_per_trigger: int | None = None,
) -> StreamingQuery:
    """One streaming query; each micro-batch is parsed once, split, and
    appended to the valid and quarantine sinks (K1+K2 fused).

    ``max_bytes_per_trigger`` caps each micro-batch at that many input
    bytes in place of the 10-file cap (the two are exclusive); an
    ``availableNow`` start drains the whole backlog in budgeted batches.
    A bronze checkpoint written by the earlier Python byte-budget stream
    source fails closed on restart (``No usable value for logOffset``)
    rather than re-reading input; to rebuild, delete
    ``paths.checkpoint("bronze")`` (``_checkpoints/bronze``),
    ``paths.bronze`` and ``paths.quarantine``."""
    raw = read_raw_stream(
        spark, paths.raw, fmt=fmt, max_bytes_per_trigger=max_bytes_per_trigger
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        bronze_process_batch(paths, batch_df, epoch_id)

    writer = (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", paths.checkpoint("bronze"))
        .queryName("bronze_ingest")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
