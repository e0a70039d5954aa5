"""Streaming CDC apply: a MERGE-upsert sink over a change stream.

The streaming face of ``operators/merge.py::apply_cdc`` — the
re-expression of Delta's `foreachBatch + MERGE INTO` recipe (the
reference's upsert story, SURVEY §2.13) on plain parquet:

    change files land in a directory → file stream → per micro-batch,
    apply the batch's upserts/deletes onto the current snapshot →
    commit the next immutable snapshot version (streaming/atomic.py).

Exactly-once: the version marker records the last applied epoch; a
replayed batch after a partial failure is skipped, so totals are never
double-applied. The snapshot swap is a marker rename — crash-safe.

Scale posture: per trigger the work is |batch| + |snapshot| — the
snapshot rewrite is the cost of plain parquet (no row-level deletes);
with the snapshot bucketed by the merge key both sides of the
anti-join co-locate, and a table format with deletion vectors removes
the rewrite entirely (gated in sources/external.py). State never grows
with history: the snapshot IS the state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.merge import apply_cdc
from .atomic import commit_version, drop_superseded, read_committed, version_path


def apply_cdc_batch(
    spark: SparkSession,
    snapshot_root: str,
    base_schema: T.StructType,
    key_cols: list[str],
    seq_col: str,
    batch_df: DataFrame,
    epoch_id: int,
    retain: int = 1,
    evolve_schema: bool = False,
) -> None:
    """Merge one change micro-batch into the versioned snapshot.

    ``evolve_schema`` reads the committed snapshot with its OWN stored
    schema (not the caller's ``base_schema``) and lets ``apply_cdc``
    widen it with any new payload columns the batch carries — the
    versioned-snapshot form of Delta's MERGE schema evolution. Each
    snapshot version then carries the schema that was current at its
    epoch, exactly like Delta's per-version schema log.
    """
    last_epoch, current = read_committed(snapshot_root)
    if epoch_id <= last_epoch:
        return  # replayed batch — already merged
    if current is not None:
        if evolve_schema:
            base = spark.read.parquet(current)
        else:
            base = spark.read.schema(base_schema).parquet(current)
    else:
        base = spark.createDataFrame([], base_schema)
    merged = apply_cdc(
        base,
        batch_df,
        key_cols=key_cols,
        seq_col=seq_col,
        evolve_schema=evolve_schema,
    )
    new_dir = version_path(snapshot_root, epoch_id)
    merged.write.mode("overwrite").parquet(new_dir)
    commit_version(snapshot_root, epoch_id, new_dir)
    drop_superseded(snapshot_root, new_dir, retain=retain)


def read_snapshot(
    spark: SparkSession, snapshot_root: str, base_schema: T.StructType
) -> DataFrame:
    """The committed snapshot (empty if no epoch has been applied)."""
    _, current = read_committed(snapshot_root)
    if current is None:
        return spark.createDataFrame([], base_schema)
    return spark.read.schema(base_schema).parquet(current)


def read_version(
    spark: SparkSession,
    snapshot_root: str,
    base_schema: T.StructType,
    epoch_id: int,
) -> DataFrame:
    """Time travel: read a RETAINED older snapshot version by epoch id
    (raise if GC'd — the retention dial is ``drop_superseded``'s
    ``retain``). The lakehouse-format ``VERSION AS OF`` shape on plain
    parquet."""
    import os

    path = version_path(snapshot_root, epoch_id)
    if not os.path.isdir(path):
        from .atomic import list_versions

        raise FileNotFoundError(
            f"snapshot version {epoch_id} not on disk; retained: "
            f"{list_versions(snapshot_root)}"
        )
    return spark.read.schema(base_schema).parquet(path)


def start_cdc_apply(
    spark: SparkSession,
    changes_dir: str,
    change_schema: T.StructType,
    snapshot_root: str,
    checkpoint_dir: str,
    key_cols: list[str],
    seq_col: str = "seq",
    available_now: bool = False,
    trigger_seconds: int = 60,
    max_files_per_trigger: int = 10,
    retain: int = 1,
) -> StreamingQuery:
    """File-stream the change log and continuously MERGE it into the
    snapshot. ``change_schema`` = base columns + op + seq."""
    base_fields = [
        f for f in change_schema.fields if f.name not in ("op", seq_col)
    ]
    base_schema = T.StructType(base_fields)
    changes = (
        spark.readStream.format("parquet")
        .schema(change_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(changes_dir)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        apply_cdc_batch(
            spark,
            snapshot_root,
            base_schema,
            key_cols,
            seq_col,
            batch_df,
            epoch_id,
            retain=retain,
        )

    writer = (
        changes.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("cdc_apply")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
