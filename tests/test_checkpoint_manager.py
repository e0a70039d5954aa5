"""Streaming checkpoints go through Spark's FileSystem checkpoint manager
(session.py), and that manager keeps what the default one gave on the
local filesystem: exactly-once dedup across restarts on one checkpoint,
no temp file left behind, Hadoop ``.crc`` sidecars on the offset and
commit logs, and Spark's checksum file next to every state delta."""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
from pyspark.sql import types as T

FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
SCHEMA = T.StructType(
    [
        T.StructField("log_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
T0 = dt.datetime(2024, 1, 1)


def _land(src: str, name: str, ids: list[str], minutes: list[int]) -> None:
    os.makedirs(src, exist_ok=True)
    pd.DataFrame(
        {"log_id": ids, "ts": [T0 + dt.timedelta(minutes=m) for m in minutes]}
    ).to_parquet(f"{src}/{name}", index=False, coerce_timestamps="us")


def _files(root: str) -> list[str]:
    return [
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
    ]


def test_fs_checkpoint_manager_keeps_exactly_once_and_checksums(spark, tmp_path):
    assert (
        spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
        == FS_MANAGER
    )
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))

    def drain() -> None:
        q = (
            spark.readStream.schema(SCHEMA).parquet(src)
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["log_id"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None

    _land(src, "a.parquet", ["a", "b", "c", "a"], [0, 1, 2, 3])
    drain()
    # restart on the same checkpoint; b and c are re-delivered
    _land(src, "b.parquet", ["b", "c", "d", "e"], [4, 5, 6, 7])
    drain()

    ids = sorted(r.log_id for r in spark.read.parquet(out).collect())
    assert ids == ["a", "b", "c", "d", "e"]

    files = _files(ck)
    assert not [f for f in files if f.endswith(".tmp")]

    for log in ("offsets", "commits"):
        batches = [f for f in os.listdir(f"{ck}/{log}") if f.isdigit()]
        assert len(batches) >= 2
        for n in batches:
            assert os.path.exists(f"{ck}/{log}/.{n}.crc"), (log, n)

    deltas = [
        f for f in files
        if f.startswith("state/0/") and f.endswith(".delta")
    ]
    assert deltas
    for f in deltas:
        assert os.path.exists(f"{ck}/{f}.crc"), f
