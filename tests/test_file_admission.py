"""Byte-capped file admission (SURVEY T5): bronze's file source with
``maxBytesPerTrigger`` drains a backlog in budgeted batches within one
``availableNow`` run, still reads a file larger than the cap, and reads
every landed file exactly once across a restart, whatever its name."""

from __future__ import annotations

import glob
import os

from investcloud_data_pipeline_spark.datagen import (
    make_activity_frame,
    write_activity_files,
)
from investcloud_data_pipeline_spark.streaming.bronze import read_raw_stream


def _land(raw_dir: str, name: str, rows: int = 40) -> int:
    """Land one activity file whose log_ids are unique to ``name``;
    returns its size in bytes."""
    os.makedirs(raw_dir, exist_ok=True)
    df = make_activity_frame(rows)
    df["log_id"] = [f"{name}-{i}" for i in range(rows)]
    path = os.path.join(raw_dir, name)
    df.to_parquet(path, index=False)
    return os.path.getsize(path)


def _drain(spark, raw_dir: str, out: str, ck: str, max_bytes: int) -> list[int]:
    """One ``availableNow`` run of the byte-capped raw stream into a
    log_id parquet sink; returns the input rows of each non-empty batch."""
    q = (
        read_raw_stream(spark, raw_dir, max_bytes_per_trigger=max_bytes)
        .select("log_id")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]


def _landed(spark, out: str) -> tuple[int, int]:
    """(rows, distinct log_ids) in the sink."""
    df = spark.read.parquet(out)
    return df.count(), df.select("log_id").distinct().count()


class TestAdmissionPlanning:
    def test_byte_budget_batches(self, spark, tmp_path):
        """6 files under a cap of 2.5 files' bytes: one availableNow run
        drains them as exactly 3 batches of 2 files."""
        raw = str(tmp_path / "raw")
        write_activity_files(raw, num_files=6, rows_per_file=40)
        one = os.path.getsize(sorted(glob.glob(f"{raw}/*.parquet"))[0])
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        assert _drain(spark, raw, out, ck, int(one * 2.5)) == [80, 80, 80]
        assert spark.read.parquet(out).count() == 6 * 40

    def test_oversized_file_still_progresses(self, spark, tmp_path):
        """A cap smaller than any file admits one file per batch."""
        raw = str(tmp_path / "raw")
        for name in ("a.parquet", "b.parquet", "c.parquet"):
            _land(raw, name)
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        assert _drain(spark, raw, out, ck, 1) == [40, 40, 40]
        assert _landed(spark, out) == (120, 120)

    def test_state_location_outside_landing_dir(self, spark, tmp_path):
        """The source's seen-files log lives in the checkpoint under
        ``sources/0``; the landing dir keeps only the landed files."""
        raw = str(tmp_path / "raw")
        names = ["a.parquet", "b.parquet"]
        for name in names:
            _land(raw, name)
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        assert _drain(spark, raw, out, ck, 1) == [40, 40]
        assert sorted(os.listdir(raw)) == names
        log = "".join(open(p).read() for p in glob.glob(f"{ck}/sources/0/*"))
        assert all(f"/{name}" in log for name in names)

    def test_late_small_name_is_read_exactly_once(self, spark, tmp_path):
        """A file landing after a restart whose name sorts before every
        processed file is read once: the source tracks seen files, not
        a name boundary."""
        raw = str(tmp_path / "raw")
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        _land(raw, "m.parquet")
        budget = _land(raw, "n.parquet") * 10
        assert _drain(spark, raw, out, ck, budget) == [80]
        _land(raw, "a.parquet")
        assert _drain(spark, raw, out, ck, budget) == [40]
        assert _landed(spark, out) == (120, 120)


class TestEndToEndStream:
    def test_budgeted_drain_exactly_once_across_restart(self, spark, tmp_path):
        """A budgeted backlog drain, then a restart on the same checkpoint
        with a second wave (one name sorting first): every file is read
        exactly once and no batch exceeds the 2-file budget."""
        raw = str(tmp_path / "raw")
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        sizes = [_land(raw, f"wave1_{i}.parquet") for i in range(5)]
        budget = int(max(sizes) * 2.5)
        assert _drain(spark, raw, out, ck, budget) == [80, 80, 40]
        assert _landed(spark, out) == (200, 200)

        _land(raw, "wave0_late.parquet")
        _land(raw, "wave2_0.parquet")
        _land(raw, "wave2_1.parquet")
        batches = _drain(spark, raw, out, ck, budget)
        assert sum(batches) == 120 and max(batches) <= 80
        assert _landed(spark, out) == (320, 320)
