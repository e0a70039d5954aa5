"""Side-effect-free query construction: building a registry query
returns a lazy plan and runs no Spark job.

This pins the queries whose only construction-time jobs were parquet
schema inference (one per table reference, before ``load_table``
stored each table's schema per session). The first construction may
still infer each table once; the second must run nothing.
"""

from __future__ import annotations

import pytest
from conftest import count_jobs

import __spark_entry__ as entrymod

LAZY_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_product_type_profit",
    "q18_large_orders",
    "silver_dedup",
    "gold_region_totals",
    "gold_user_argmax",
    "bronze_quality_quarantine",
]


@pytest.mark.parametrize("name", LAZY_QUERIES)
def test_second_construction_runs_no_job(spark, sf_dir, name, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STORES", raising=False)
    build = entrymod.queries()[name]
    build(spark, sf_dir)
    _, jobs = count_jobs(spark, lambda: build(spark, sf_dir))
    assert jobs == 0
