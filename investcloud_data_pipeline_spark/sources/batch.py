"""Batch sources (S3 csv contract + parquet) and sinks.

Reference S3: the upstream contract is CSV-with-header from the generator
(data_generator.py:52), landed as parquet by capture (01:14). Both formats
are supported here with the schema *enforced* (the reference declares
RAW_SCHEMA but never passes it to a reader — SURVEY §1.3).

Corrupt handling (reference T6, cloudFiles.badRecordsPath 01:19): CSV/JSON
reads use PERMISSIVE mode with a ``_corrupt_record`` column so unparseable
rows route to the quarantine sink instead of failing the job.

Table metadata (``load_table``): Spark's parquet schema inference
(``mergeSchemasInParallel``) is always a Spark job, so a schema-less
``spark.read.parquet`` pays one job per table reference at query
construction (~90 ms warm against ~15 ms with a schema). Each table
file's inferred schema and footer layout are therefore resolved once per
session and file identity in one session store, ``_table_schemas`` — a
catalog the queries consult instead of re-reading footers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CORRUPT_COL, RAW_SCHEMA_WITH_CORRUPT
from ..stores import session_store

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Scan widening (``load_table(..., scan_wide=True)``): parquet splits at
# row-group granularity and the test fixtures are single-row-group
# files, so every scan-side stage (filter, project, partial aggregate,
# per-row expression or Python work) runs as ONE task. A query whose
# post-scan per-row work dominates asks for the scan to be repartitioned
# to the session's cores when the file has fewer row groups than cores;
# a production layout with enough row groups adds no shuffle. Widening
# every scan loses on selective-filter and cheap-aggregate queries (q17,
# q21), so each query asks for it or not.
# Filter/projection pushdown goes through the Repartition, and
# round-robin repartition is retry-deterministic. Interleaved A/B at
# sf0.1 on 4 cores, median s wide / narrow (pairs wide won), once with
# the nine widened queries interleaved (24 pairs) and once with three
# of them (16 pairs):
#   try_functions_safety      1.24/1.33 (17/24)   1.03/1.24 (14/16)
#   lineitem_ols_price        1.71/1.68 (18/24)   1.23/1.58 (15/16)
#   bloom_filter_semi_join    1.12/1.12 (12/24)   0.63/0.77 (16/16)
#   sql_udf_disc_revenue      1.54/1.46 (7/24)    1.15/1.43 (16/16)
#   multimodal_thumbnail      0.77/1.13 (24/24)
#   multimodal_image_patches  0.71/1.05 (24/24)
#   multimodal_byte_histogram 0.37/0.48 (22/24)
#   unpivot_lineitem_charges  1.25/0.92 (1/24)    1.08/0.82 (1/16)
#   multimodal_phash_dedup    0.65/0.62 (9/24)    0.58/0.56 (8/16)
# Widening stays where narrow was slower in either run; the last two
# read narrow.


@session_store
def _table_schemas(spark: SparkSession, sf_dir: str) -> dict:
    """The session's table metadata: one entry per table file under
    ``sf_dir``, keyed on the file's identity (path, ``st_size``,
    ``st_mtime_ns``), so a table rewritten at the same path is resolved
    afresh. An entry maps ``"layout"`` to the footer's (num_rows,
    num_row_groups) and each value of ``spark.sql.legacy.parquet.
    nanosAsLong`` (the one schema-changing conf ``load_table`` sets) to
    Spark's own inferred schema under it; the other parquet schema confs
    are taken as fixed for the session. With ``SPARK_GRAFT_STORES=off``
    every call gets an empty dict: every read infers again."""
    return {}


def _table_entry(spark: SparkSession, sf_dir: str, path: str) -> dict:
    """The store entry of the table file at ``path``; a throwaway dict
    when the path cannot be stat'ed (not local, or missing: the read then
    raises Spark's own error)."""
    try:
        st = os.stat(path)
    except OSError:
        return {}
    key = (path, st.st_size, st.st_mtime_ns)
    return _table_schemas(spark, sf_dir).setdefault(key, {})


def _parquet_layout(spark: SparkSession, sf_dir: str, path: str) -> tuple[int, int]:
    """(num_rows, num_row_groups) from the parquet footer — one cheap
    driver-side metadata read per table file per session."""
    entry = _table_entry(spark, sf_dir, path)
    if "layout" not in entry:
        try:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(path).metadata
            entry["layout"] = (md.num_rows, md.num_row_groups)
        except Exception:
            entry["layout"] = (0, 1 << 30)  # unknown layout: leave the scan alone
    return entry["layout"]


def _read_parquet(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    session and file identity: a hit passes the stored schema, so no
    inference job runs. Only the schema is stored, never the DataFrame —
    every call returns a fresh relation with fresh attribute ids, which
    a query reading one table twice (q7's two ``nation`` aliases) needs."""
    entry = _table_entry(spark, sf_dir, path)
    nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    if nanos in entry:
        return spark.read.schema(entry[nanos]).parquet(path)
    df = spark.read.parquet(path)
    entry[nanos] = df.schema
    return df


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    scan_wide: bool = False,
) -> DataFrame:
    """Read one driver testdata table (columnar parquet scan — filters and
    projections placed on top are pushed into the scan by Catalyst).

    ``scan_wide=True`` repartitions the scan to the session's cores when
    the file has fewer row groups than cores (see the comment above
    ``_table_schemas`` for when a query asks for it).

    ``events.ts`` is TIMESTAMP(NANOS) in parquet, which Spark's vectorized
    reader rejects; read it as long (legacy conf) and truncate to
    microseconds — the same ns→µs truncation DuckDB applies, so oracle
    comparisons see identical instants.

    The schema is resolved once per session per table file identity
    (``_read_parquet``): the first load of a table runs Spark's inference
    job, later loads pass the stored schema and run none. The DataFrame
    itself is not memoized — each call is a fresh relation, so a query
    may read one table several times under different aliases.
    """
    # Defensive: queries may run under a caller-provided session (the
    # driver's); event-time semantics and DuckDB-oracle comparisons
    # assume UTC, so pin it here rather than trusting the caller's conf.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, sf_dir, path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # Parquet logical-type drift: some generator runs write
            # isAdjustedToUTC=false, which Spark reads as TIMESTAMP_NTZ.
            # The whole registry (and every time function: unix_micros,
            # window(), watermarks) assumes TIMESTAMP; with the session
            # pinned to UTC above, this cast is instant-preserving.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = _read_parquet(spark, sf_dir, path)
    if scan_wide:
        rows, row_groups = _parquet_layout(spark, sf_dir, path)
        cpus = spark.sparkContext.defaultParallelism
        if rows and row_groups < cpus:
            return df.repartition(cpus)
    return df


def read_raw_csv(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Read raw activity CSV with the enforced schema.

    Returns ``(records, corrupt)``: parseable rows (corrupt column dropped)
    and rows that failed schema parsing (raw line preserved), mirroring the
    badRecordsPath split.
    """
    df = (
        spark.read.schema(RAW_SCHEMA_WITH_CORRUPT)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    ).cache()
    records = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    corrupt = df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return records, corrupt
