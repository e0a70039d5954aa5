"""Batch source tests: enforced-schema CSV ingest with PERMISSIVE
corrupt-record routing (reference S3/T6 — badRecordsPath equivalent)."""

from __future__ import annotations

from investcloud_data_pipeline_spark.datagen import write_activity_files
from investcloud_data_pipeline_spark.sources.batch import read_raw_csv


def test_csv_schema_enforced_and_corrupt_routed(spark, tmp_path):
    src = str(tmp_path / "csv")
    write_activity_files(src, num_files=1, rows_per_file=50, fmt="csv")
    # append a structurally corrupt line (non-numeric watch_time)
    import glob

    path = glob.glob(f"{src}/*.csv")[0]
    with open(path, "a") as f:
        f.write("log_x,user_x,2024-02-01T00:00:00,1.2.3.4,NOT_A_NUMBER\n")

    records, corrupt = read_raw_csv(spark, src)
    assert records.count() == 50
    assert records.schema["watch_time(min)"].dataType.simpleString() == "bigint"
    bad = corrupt.collect()
    assert len(bad) == 1
    assert "NOT_A_NUMBER" in bad[0][0]


class TestSchemaEvolution:
    """Auto Loader schemaLocation/addNewColumns parity (SURVEY §1.3):
    tracked schema persists, new columns evolve on restart, old files
    null-fill, incompatible type changes raise."""

    def test_evolves_new_column_across_restart(self, spark, tmp_path):
        import pandas as pd

        from investcloud_data_pipeline_spark.sources.schema_tracking import (
            load_tracked_schema,
            read_stream_evolving,
        )

        raw = str(tmp_path / "raw")
        loc = str(tmp_path / "schema")
        out = str(tmp_path / "out")
        ck = str(tmp_path / "ck")
        import os as _os

        _os.makedirs(raw)
        pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}).to_parquet(
            f"{raw}/wave1.parquet", index=False
        )

        def drain():
            q = (
                read_stream_evolving(spark, raw, loc)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        drain()
        assert [f.name for f in load_tracked_schema(loc).fields] == ["a", "b"]

        # wave 2 adds column c → restart picks it up; wave-1 rows null-fill
        pd.DataFrame(
            {"a": [3], "b": ["z"], "c": [9.5]}
        ).to_parquet(f"{raw}/wave2.parquet", index=False)
        drain()
        got = spark.read.option("mergeSchema", "true").parquet(out)
        assert set(got.columns) == {"a", "b", "c"}
        rows = {r.a: r.c for r in got.collect()}
        assert rows[3] == 9.5 and rows[1] is None

    def test_numeric_widening_and_incompatible_raise(self, spark, tmp_path):
        import pytest as _pytest
        from pyspark.sql import types as T

        from investcloud_data_pipeline_spark.sources.schema_tracking import (
            merge_schemas,
        )

        old = T.StructType([T.StructField("v", T.IntegerType())])
        wide = T.StructType([T.StructField("v", T.DoubleType())])
        assert merge_schemas(old, wide)["v"].dataType == T.DoubleType()
        assert merge_schemas(wide, old)["v"].dataType == T.DoubleType()

        bad = T.StructType([T.StructField("v", T.StringType())])
        with _pytest.raises(ValueError, match="incompatible evolution"):
            merge_schemas(old, bad)


class TestTimestampTypeContract:
    """events.ts must surface as TIMESTAMP (ltz) regardless of the parquet
    logical type the generator wrote (INT64 nanos → legacy long read, or
    isAdjustedToUTC=false → TIMESTAMP_NTZ). Every time function in the
    registry (unix_micros, window(), watermarks) requires TIMESTAMP, so a
    drift here breaks queries far from the source — pin it at load."""

    def test_ts_is_timestamp_ltz_across_sf_dirs(self, spark):
        import os

        from pyspark.sql.types import TimestampType

        from investcloud_data_pipeline_spark.sources.batch import load_table

        for sf in ("sf0.001", "sf0.01", "sf0.1"):
            d = f"/root/testdata/{sf}"
            if not os.path.isdir(d):
                continue
            df = load_table(spark, d, "events")
            assert isinstance(df.schema["ts"].dataType, TimestampType), (
                f"{sf}: events.ts is {df.schema['ts'].dataType}, "
                "expected TIMESTAMP — load_table normalization regressed"
            )

    def test_unix_micros_works_on_loaded_events(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from investcloud_data_pipeline_spark.sources.batch import load_table

        df = load_table(spark, sf_dir, "events")
        row = df.select(F.unix_micros("ts").alias("us")).first()
        assert row["us"] is not None


class TestTableSchemaStore:
    """``load_table`` resolves each table file's schema once per session
    (``sources/batch.py::_table_schemas``): later loads of the same file
    pass the stored schema and run no inference job, yet return the
    same schema and rows as a fresh schema-less read. Each test copies
    its tables into a fresh directory so the first load is a real miss
    whatever ran earlier in the session."""

    @staticmethod
    def _copy(tmp_path, sf_dir, *names):
        import shutil

        for name in names:
            shutil.copy(f"{sf_dir}/{name}.parquet", tmp_path / f"{name}.parquet")
        return str(tmp_path)

    def test_second_load_runs_no_job_same_schema_and_rows(self, spark, sf_dir, tmp_path):
        from conftest import count_jobs

        from investcloud_data_pipeline_spark.sources.batch import load_table

        d = self._copy(tmp_path, sf_dir, "orders")
        first, n_first = count_jobs(spark, lambda: load_table(spark, d, "orders"))
        second, n_second = count_jobs(spark, lambda: load_table(spark, d, "orders"))
        assert (n_first, n_second) == (1, 0)
        fresh = spark.read.parquet(f"{d}/orders.parquet")
        assert second.schema == fresh.schema == first.schema
        assert sorted(second.collect()) == sorted(fresh.collect())

    def test_rewritten_file_is_resolved_again(self, spark, tmp_path):
        import pandas as pd

        from investcloud_data_pipeline_spark.sources.batch import load_table

        d = str(tmp_path)
        pd.DataFrame({"a": [1, 2]}).to_parquet(f"{d}/t.parquet", index=False)
        assert load_table(spark, d, "t").columns == ["a"]
        pd.DataFrame({"a": [3], "b": ["x"]}).to_parquet(f"{d}/t.parquet", index=False)
        got = load_table(spark, d, "t")
        assert got.schema == spark.read.parquet(f"{d}/t.parquet").schema
        assert [tuple(r) for r in got.collect()] == [(3, "x")]

    def test_stores_off_infers_on_every_load(self, spark, sf_dir, tmp_path, monkeypatch):
        from conftest import count_jobs

        from investcloud_data_pipeline_spark.sources.batch import load_table

        monkeypatch.setenv("SPARK_GRAFT_STORES", "off")
        d = self._copy(tmp_path, sf_dir, "nation")
        counts = [count_jobs(spark, lambda: load_table(spark, d, "nation"))[1] for _ in range(3)]
        assert counts == [1, 1, 1]

    def test_events_load_between_orders_loads(self, spark, sf_dir, tmp_path):
        """The first ``events`` load sets ``nanosAsLong`` for the session;
        an ``orders`` schema stored before it is keyed on the old value,
        so ``orders`` is inferred once more and its rows do not move."""
        from conftest import count_jobs

        from investcloud_data_pipeline_spark.sources.batch import load_table

        conf = "spark.sql.legacy.parquet.nanosAsLong"
        before = spark.conf.get(conf, "false")
        spark.conf.set(conf, "false")
        try:
            d = self._copy(tmp_path, sf_dir, "orders", "events")
            rows = sorted(load_table(spark, d, "orders").collect())
            load_table(spark, d, "events")
            assert spark.conf.get(conf) == "true"
            after, n_after = count_jobs(spark, lambda: load_table(spark, d, "orders"))
            again, n_again = count_jobs(spark, lambda: load_table(spark, d, "orders"))
            assert (n_after, n_again) == (1, 0)
            assert sorted(after.collect()) == sorted(again.collect()) == rows
        finally:
            spark.conf.set(conf, before)

    def test_q7_two_nation_reads_match_stores_off(self, spark, sf_dir, monkeypatch):
        import __spark_entry__ as entrymod

        q7 = entrymod.queries()["q7_volume_shipping"]
        monkeypatch.delenv("SPARK_GRAFT_STORES", raising=False)
        q7(spark, sf_dir)  # fill the store, so the next build is all hits
        with_store = sorted(tuple(r) for r in q7(spark, sf_dir).collect())
        monkeypatch.setenv("SPARK_GRAFT_STORES", "off")
        without = sorted(tuple(r) for r in q7(spark, sf_dir).collect())
        assert with_store and with_store == without
