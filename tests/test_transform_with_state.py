"""Arbitrary-state running totals under the RocksDB state store
provider: totals accumulate across micro-batches, and the state-store
data source reads the operator's state back out of the checkpoint."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import types as T

from investcloud_data_pipeline_spark.streaming.stateful import (
    running_user_totals,
)

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)
ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _write(src: str, name: str, rows: list[tuple[int, float]]) -> None:
    os.makedirs(src, exist_ok=True)
    pd.DataFrame(rows, columns=["user_id", "value"]).to_parquet(
        f"{src}/{name}", index=False
    )


@pytest.fixture()
def rocksdb_state(spark):
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB)
    yield
    if prev is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, prev)


def test_tws_totals_accumulate_and_state_is_readable(
    spark, tmp_path, rocksdb_state
):
    """running_user_totals (applyInPandasWithState) on RocksDB: the same
    drain sequence run as two availableNow starts carries each user's
    totals across the restart, and the state store holds one entry per
    user with the final totals."""
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))

    def drain() -> None:
        stream = running_user_totals(
            spark.readStream.schema(SCHEMA).parquet(src)
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

    _write(src, "b1.parquet", [(1, 10.0), (1, 5.0), (2, 1.0)])
    drain()
    _write(src, "b2.parquet", [(1, 2.5), (3, 7.0)])
    drain()

    rows = spark.read.parquet(out).collect()
    latest: dict[int, tuple[int, float]] = {}
    for r in rows:
        cur = latest.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            latest[r.user_id] = (r.n_events, r.total_value)
    assert latest[1] == (3, 17.5)  # state survived the batch boundary
    assert latest[2] == (1, 1.0)
    assert latest[3] == (1, 7.0)

    # state-store reader: inspect the operator's live state offline —
    # the ops story for debugging a 1000-executor streaming job's state.
    state = spark.read.format("statestore").load(ck)
    keys = {r["key"]["user_id"] for r in state.select("key").collect()}
    assert keys == {1, 2, 3}
    per_key = {
        r["key"]["user_id"]: (
            r["value"]["groupState"]["n_events"],
            r["value"]["groupState"]["total_value"],
        )
        for r in state.select("key", "value").collect()
    }
    assert per_key[3] == (1, 7.0)
    assert per_key[1] == (3, 17.5)


def test_statestore_reader_exposes_dedup_state(spark, tmp_path):
    """The state-store data source reads streaming operator state
    offline from the checkpoint — here the keys retained by a
    dropDuplicates, the ops story for inspecting a production job's
    state without touching the job."""
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    _write(src, "b1.parquet", [(1, 10.0), (1, 5.0), (2, 1.0)])
    q = (
        spark.readStream.schema(SCHEMA)
        .parquet(src)
        .dropDuplicates(["user_id"])
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    state = spark.read.format("statestore").load(ck)
    keys = {r["key"]["user_id"] for r in state.select("key").collect()}
    assert keys == {1, 2}
