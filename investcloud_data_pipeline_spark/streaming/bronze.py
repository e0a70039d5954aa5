"""Bronze layer: incremental file ingest + parse + DQ split (S1', K1, K2).

Reference: 01_bronze_layer_ingestion.py. Auto Loader's cloudFiles options
map to the OSS file source: explicit schema (required by OSS file
streams), ``maxFilesPerTrigger`` admission control (01:17), checkpointed
exactly-once sinks (01:70).

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
    max_bytes_per_trigger: str | None = None,
    admission_state_location: str | None = None,
) -> DataFrame:
    """S1': incremental directory scan with enforced schema (the OSS
    equivalent of cloudFiles, reference 01:13-29).

    ``max_bytes_per_trigger`` switches to the ``budget_files`` source
    (sources/file_admission.py), which enforces the reference's BOTH
    caps — ≤N files AND ≤B bytes per trigger (01:17-18) — where the OSS
    file source can only cap file count. Parquet landing files only."""
    if max_bytes_per_trigger is not None:
        if fmt != "parquet":
            raise ValueError(
                "byte-budget admission reads parquet landing files; "
                "got fmt=" + fmt
            )
        from ..sources.file_admission import register

        register(spark)
        reader = (
            spark.readStream.format("budget_files")
            .schema(RAW_SCHEMA)
            .option("path", raw_dir)
            .option("maxBytesPerTrigger", max_bytes_per_trigger)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
        )
        if admission_state_location is not None:
            reader = reader.option("stateLocation", admission_state_location)
        return reader.load()
    reader = (
        spark.readStream.format(fmt)
        .schema(RAW_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
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
    max_bytes_per_trigger: str | None = None,
) -> StreamingQuery:
    """One streaming query; each micro-batch is parsed once, split, and
    appended to the valid and quarantine sinks (K1+K2 fused).

    With ``max_bytes_per_trigger``, admission uses the byte-budgeted
    source (its boundary sidecar is kept next to the bronze checkpoint,
    not in the landing dir); note the Python-source single-batch
    fallback under availableNow — drain backlogs by looping
    availableNow starts on the same checkpoint (each run is one
    budgeted, idempotent batch)."""
    import os

    raw = read_raw_stream(
        spark,
        paths.raw,
        fmt=fmt,
        max_bytes_per_trigger=max_bytes_per_trigger,
        admission_state_location=os.path.join(
            paths.checkpoint("bronze"), "_admission_state"
        )
        if max_bytes_per_trigger is not None
        else None,
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
