"""Streaming observability: df.observe DQ counters ride along with the
action that executes the plan (no second scan) and surface in streaming
progress; listener lifecycle; silver's late-drop counters."""

from __future__ import annotations

from pyspark.sql import functions as F

from investcloud_data_pipeline_spark.operators.quality import (
    parse_raw,
    validity_condition,
)

RAW = [
    ("a", "u1", "2024-01-01T10:00:00", "1.2.3.4", 10),
    ("b", "u2", "not-a-time", "1.2.3.4", 20),      # invalid ts
    ("c", None, "2024-01-01T11:00:00", "1.2.3.4", 30),  # null user
    ("d", "u3", "2024-01-01T12:00:00", "1.2.3.4", -5),  # negative
    ("e", "u4", "2024-01-01T13:00:00", "1.2.3.4", 40),
]
DDL = "log_id string, user_id string, timestamp string, ip_address string, `watch_time(min)` long"


def test_streaming_observation_in_progress(spark, tmp_path):
    import pandas as pd

    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    import os

    os.makedirs(src)
    pd.DataFrame(
        RAW, columns=["log_id", "user_id", "timestamp", "ip_address", "watch_time(min)"]
    ).to_parquet(f"{src}/a.parquet", index=False)

    parsed = parse_raw(spark.readStream.schema(DDL).parquet(src))
    cond = validity_condition()
    observed = parsed.observe(
        "dq_stream",
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(cond, 0).otherwise(1)).alias("invalid_rows"),
    )
    q = (
        observed.writeStream.format("noop")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    metrics = [
        p["observedMetrics"]["dq_stream"]
        for p in q.recentProgress
        if p["observedMetrics"].get("dq_stream")
    ]
    assert metrics, "no observed metrics surfaced in streaming progress"
    assert sum(m["rows"] for m in metrics) == 5
    assert sum(m["invalid_rows"] for m in metrics) == 3


def test_streaming_query_listener_lifecycle(spark, tmp_path):
    """StreamingQueryListener receives start/progress/termination events —
    the hook a production pipeline uses to ship per-trigger metrics
    (rows/sec, batch duration, state size) to a metrics backend."""
    import os
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    events: dict[str, list] = {"started": [], "progress": [], "terminated": []}

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, e):
            events["started"].append(e.id)

        def onQueryProgress(self, e):
            events["progress"].append(e.progress.numInputRows)

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            events["terminated"].append(e.id)

    import pandas as pd

    src = str(tmp_path / "lsrc")
    os.makedirs(src)
    pd.DataFrame({"user_id": [1, 2, 3], "value": [1.0, 2.0, 3.0]}).to_parquet(
        f"{src}/a.parquet", index=False
    )

    spark.streams.addListener(listener := Capture())
    try:
        q = (
            spark.readStream.schema("user_id long, value double")
            .parquet(src)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "lck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener events are delivered asynchronously after termination
        deadline = time.time() + 30
        while time.time() < deadline and not events["terminated"]:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)

    assert events["started"], "no start event delivered"
    assert events["terminated"], "no termination event delivered"
    assert sum(events["progress"]) == 3  # all input rows observed


def test_silver_late_drop_counters(spark, tmp_path):
    """VERDICT r4 #6: the watermark silently discards late rows in the
    silver dedup (the reference does this with no signal, SURVEY §2.5).
    The progress's numInputRows + the state store's
    numRowsDroppedByWatermark make the drop observable: a crafted
    two-run availableNow sequence with one genuinely-late row must
    surface exactly that row in late_drop_stats()."""
    import datetime as dt
    import os

    from investcloud_data_pipeline_spark.config import PipelinePaths
    from investcloud_data_pipeline_spark.datagen import make_ip_region_frame
    from investcloud_data_pipeline_spark.streaming.silver import (
        late_drop_stats,
        start_silver,
    )

    ip_regions = spark.createDataFrame(make_ip_region_frame())
    paths = PipelinePaths(str(tmp_path))
    os.makedirs(paths.bronze, exist_ok=True)

    def bronze_rows(rows):
        return spark.createDataFrame(
            [
                (lid, "u1", ts, "203.0.113.5", 3.0, ts.date())
                for lid, ts in rows
            ],
            "log_id string, user_id string, timestamp timestamp, "
            "ip_address string, watch_time double, event_date date",
        )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def run_and_collect():
        q = start_silver(spark, paths, ip_regions, available_now=True)
        q.awaitTermination(120)
        stats = late_drop_stats(q.recentProgress)
        q.stop()
        return stats

    # run 1: two fresh events — watermark advances to max(ts) - 2h = 10:00
    bronze_rows(
        [("a", t0), ("b", t0 - dt.timedelta(minutes=5))]
    ).write.mode("append").parquet(paths.bronze)
    s1 = run_and_collect()
    assert s1["rows_in"] == 2 and s1["rows_dropped_late"] == 0
    assert s1["rows_deduped"] == 2

    # run 2 (same checkpoint): one late row (09:00 < 10:00 watermark) and
    # one fresh row — exactly the late one must be counted as dropped
    bronze_rows(
        [("c", t0 - dt.timedelta(hours=3)), ("d", t0 + dt.timedelta(minutes=30))]
    ).write.mode("append").parquet(paths.bronze)
    s2 = run_and_collect()
    assert s2["rows_in"] == 2
    assert s2["rows_dropped_late"] == 1
    assert s2["rows_deduped"] == 1

    # the late row never reached the silver sink; the fresh ones did
    got = sorted(r.log_id for r in spark.read.parquet(paths.silver).collect())
    assert got == ["a", "b", "d"]
