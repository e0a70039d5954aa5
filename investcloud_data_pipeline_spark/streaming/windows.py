"""Watermarked time-window aggregation stages: tumbling, sliding and
session event rollups as production Structured Streaming stages
(append mode, parquet sink, availableNow-capable).

These are the canonical streaming-aggregation shapes (SURVEY §2 T1/T4
exercised them inside tests; round-9 registers them as first-class
stages): ``groupBy(window(ts, ...), event_type)`` with an event-time
watermark — append mode emits each window exactly once, when the
watermark passes its end. The BATCH contract of each stage is a
registry query (plans/analytics_ext8.py::tumbling_watermark_rollup /
sliding_watermark_rollup / session_watermark_rollup): the same
``window_rollup`` over the batch table, restricted to windows CLOSED by
the final watermark (max event time − delay). The strict DuckDB oracle
of each twin therefore checks the operator the stage runs, and the e2e
test asserts the streamed parquet equals the registry query on the same
input.

Scale notes: windowed aggregation state is per (window, event_type) —
bounded by the watermark horizon; the RocksDB state store is the
100 TB backend. The micros-encoded value sum keeps the aggregate an
integer (exact, portable) — the repo's standard float discipline.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..constants import WINDOW_DELAY

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def window_rollup(events, window, key: str, prefix: str,
                  watermark: str = WINDOW_DELAY):
    """The one (window, key) rollup of the window stages and their
    registry twins: ``n`` and the micros value sum per ``window``
    (``F.window`` or ``F.session_window`` over ``ts``) and ``key``, as
    (``{prefix}_start``, ``{prefix}_end``, key, n, total_micros). On a
    batch frame Catalyst drops the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(window.alias("w"), key)
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("value") * 1_000_000).cast("long")
            ).alias("total_micros"),
        )
        .select(
            F.col("w.start").alias(f"{prefix}_start"),
            F.col("w.end").alias(f"{prefix}_end"),
            key,
            "n",
            "total_micros",
        )
    )


def _start(df, out_dir: str, checkpoint_dir: str, name: str,
           available_now: bool) -> StreamingQuery:
    writer = (
        df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_tumbling_rollup(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = WINDOW_DELAY,
    available_now: bool = True,
) -> StreamingQuery:
    """Tumbling-window rollup stage: one emission per closed
    (window, event_type) cell."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
    return _start(
        window_rollup(
            stream, F.window("ts", window), "event_type", "win", watermark
        ),
        out_dir,
        checkpoint_dir,
        "tumbling_rollup",
        available_now,
    )


def start_sliding_rollup(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = WINDOW_DELAY,
    available_now: bool = True,
) -> StreamingQuery:
    """Sliding-window rollup stage: each event lands in
    window/slide overlapping windows; append emits each closed window
    once."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
    return _start(
        window_rollup(
            stream, F.window("ts", window, slide), "event_type", "win",
            watermark,
        ),
        out_dir,
        checkpoint_dir,
        "sliding_rollup",
        available_now,
    )


def start_session_rollup(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap: str = WINDOW_DELAY,
    watermark: str = WINDOW_DELAY,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Session-window rollup stage: per-user dynamic-gap sessions as a
    streaming aggregate — the MERGING-window state class the fixed
    tumbling/sliding stages cannot express (two state entries fuse when
    a bridging event arrives; a session's end moves as it absorbs
    events). Append mode emits a session exactly once, when the
    watermark passes its end (last event time + gap). Batch contract:
    analytics_ext8.session_watermark_rollup (strict DuckDB oracle via
    the gaps-and-islands construction, new session only at gap
    STRICTLY > 30 min — F.session_window MERGES an event arriving
    exactly gap after the previous one, so the boundary is inclusive
    on the merge side).

    Scale: state is one (user, open-session) entry, merged in place by
    the session-window operator and evicted at the watermark — bounded
    by active users per horizon, not history. Reference lineage: the
    dedup + aggregation stages of 02/03 (`02_silver_layer_processing.py:19-23`,
    `03_gold_layer_aggregation.py:21-31`) keyed state by user; this adds
    the event-time-merging variant of that state class."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src_dir)
    df = window_rollup(
        stream, F.session_window("ts", gap), "user_id", "session", watermark
    )
    return _start(df, out_dir, checkpoint_dir, "session_rollup", available_now)
