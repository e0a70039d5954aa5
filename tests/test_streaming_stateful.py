"""Custom stateful streaming operator test: running totals must
accumulate across micro-batches (state survives) and match the batch
computation at every checkpoint."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import types as T

from investcloud_data_pipeline_spark.streaming.stateful import running_user_totals

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _write(src: str, name: str, rows: list[tuple[int, float]]) -> None:
    os.makedirs(src, exist_ok=True)
    pd.DataFrame(rows, columns=["user_id", "value"]).to_parquet(
        f"{src}/{name}", index=False
    )


def test_running_totals_accumulate_across_batches(spark, tmp_path):
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))

    def drain() -> None:
        stream = running_user_totals(spark.readStream.schema(SCHEMA).parquet(src))
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write(src, "b1.parquet", [(1, 10.0), (1, 5.0), (2, 1.0)])
    drain()
    _write(src, "b2.parquet", [(1, 2.5), (3, 7.0)])
    drain()

    rows = spark.read.parquet(out).collect()
    # latest emission per user = lifetime running totals
    latest: dict[int, tuple[int, float]] = {}
    for r in rows:
        cur = latest.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            latest[r.user_id] = (r.n_events, r.total_value)
    assert latest[1] == (3, 17.5)  # state carried over batch boundary
    assert latest[2] == (1, 1.0)
    assert latest[3] == (1, 7.0)
    # user 1 emitted in both drains (2 then 3 events)
    u1 = sorted(r.n_events for r in rows if r.user_id == 1)
    assert u1 == [2, 3]


def test_streaming_heavy_hitters_bounded_state_guarantee(spark, tmp_path):
    """The MG-in-state sketch must (a) carry state across batches,
    (b) keep every reported count a lower bound of the true count, and
    (c) retain every key whose shard frequency beats the n/(K+1) bar —
    checked against exact counts computed batch-side."""
    import pyspark.sql.functions as F

    from investcloud_data_pipeline_spark.streaming import stateful as SF

    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    schema = T.StructType([T.StructField("user_id", T.LongType())])

    def drain() -> None:
        stream = SF.streaming_heavy_hitters(
            spark.readStream.schema(schema).parquet(src)
        )
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: user 7 dominates; batch 2: user 7 keeps dominating and a
    # long tail churns the small summaries
    os.makedirs(src, exist_ok=True)
    rows1 = [(7,)] * 400 + [(i,) for i in range(100, 400)]
    rows2 = [(7,)] * 300 + [(i,) for i in range(400, 900)]
    pd.DataFrame(rows1, columns=["user_id"]).to_parquet(
        f"{src}/b1.parquet", index=False
    )
    drain()
    pd.DataFrame(rows2, columns=["user_id"]).to_parquet(
        f"{src}/b2.parquet", index=False
    )
    drain()

    emitted = spark.read.parquet(out)
    # keep each shard's LATEST emission (max lifetime rows)
    latest_n = emitted.groupBy("shard").agg(
        F.max("n_shard_rows").alias("n_shard_rows")
    )
    final = emitted.join(latest_n, ["shard", "n_shard_rows"]).collect()

    # exact truth, sharded the same way
    all_rows = pd.DataFrame(rows1 + rows2, columns=["user_id"])
    truth = spark.createDataFrame(all_rows).select(
        F.pmod(F.xxhash64("user_id"), F.lit(SF.HH_STREAM_SHARDS))
        .cast("long")
        .alias("shard"),
        "user_id",
    )
    exact = {
        (r.shard, r.user_id): r.c
        for r in truth.groupBy("shard", "user_id")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    shard_totals: dict[int, int] = {}
    for (sh, _u), c in exact.items():
        shard_totals[sh] = shard_totals.get(sh, 0) + c

    got = {(r.shard, r.user_id): r.lb_count for r in final}
    # (a) state carried: user 7's lower bound reflects BOTH batches
    u7 = [v for (sh, u), v in got.items() if u == 7]
    assert u7 and u7[0] > 400  # more than batch 1 alone
    # (b) every report is a true lower bound
    for k, lb in got.items():
        assert lb <= exact[k]
    # (c) the MG retention bar, per shard
    for (sh, u), c in exact.items():
        if c > shard_totals[sh] / (SF.HH_STREAM_K + 1):
            assert (sh, u) in got, (sh, u, c, shard_totals[sh])
    # per-shard summaries respect the K bound
    sizes: dict[int, int] = {}
    for (sh, _u) in got:
        sizes[sh] = sizes.get(sh, 0) + 1
    assert all(v <= SF.HH_STREAM_K for v in sizes.values())


def test_user_quota_gate_across_batches(spark, tmp_path):
    """Admission control: at most `quota` events admitted per user
    ACROSS micro-batches (state carries), every input event emitted
    with a verdict (conservation), and the admitted set deterministic
    by (ts, event_id) order — earliest events win, not arrival order."""
    from investcloud_data_pipeline_spark.streaming.stateful import (
        user_quota_gate,
    )

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.LongType()),
    ])
    src, out, ck = (str(tmp_path / d) for d in ("qsrc", "qout", "qck"))

    def write(name, rows):
        os.makedirs(src, exist_ok=True)
        pd.DataFrame(
            rows, columns=["event_id", "user_id", "ts"]
        ).to_parquet(f"{src}/{name}", index=False)

    def drain():
        stream = user_quota_gate(
            spark.readStream.schema(schema).parquet(src), quota=3
        )
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: user 1 sends 2 (both admitted), user 2 sends 4 (3 in)
    write("b1.parquet", [(10, 1, 100), (11, 1, 101),
                         (20, 2, 100), (21, 2, 101), (22, 2, 102), (23, 2, 103)])
    drain()
    # batch 2: user 1 sends 3 more — only ONE more fits (state carried);
    # the earliest-by-ts event must be the admitted one
    write("b2.parquet", [(13, 1, 300), (12, 1, 200), (14, 1, 400)])
    drain()

    rows = spark.read.parquet(out).collect()
    assert len(rows) == 9  # conservation: every event has a verdict
    admitted = {r.event_id for r in rows if r.admitted}
    rejected = {r.event_id for r in rows if not r.admitted}
    assert admitted == {10, 11, 12, 20, 21, 22}  # 12: earliest ts wins
    assert rejected == {13, 14, 23}
    # per-user admitted counts never exceed the quota
    for u in (1, 2):
        assert sum(1 for r in rows if r.user_id == u and r.admitted) == 3
