"""Unit tests for the core pipeline operators (SURVEY §5 item 2): edge
cases implied by the reference's semantics — null routing (01:40-43),
negative watch_time quarantined (01:44), dedup determinism, rank ties
(03:27-31), 'Unknown' enrichment default (00_utils.py:57)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Row

from investcloud_data_pipeline_spark.config import RAW_SCHEMA
from investcloud_data_pipeline_spark.operators.dedup import (
    dedup_any,
    dedup_keep_first,
)
from investcloud_data_pipeline_spark.operators.enrich import geo_enrich
from investcloud_data_pipeline_spark.operators.gold import user_argmax_totals
from investcloud_data_pipeline_spark.operators.quality import (
    parse_raw,
    split_quality,
)


def _raw_df(spark, rows):
    return spark.createDataFrame(rows, RAW_SCHEMA)


GOOD = ("log_1", "user_1", "2024-02-01T10:00:00", "10.0.0.1", 30)


def test_quality_split_routes_nulls_and_negatives(spark):
    rows = [
        GOOD,
        (None, "user_2", "2024-02-01T10:00:00", "10.0.0.2", 10),  # null id
        ("log_3", None, "2024-02-01T10:00:00", "10.0.0.3", 10),  # null user
        ("log_4", "user_4", "not-a-ts", "10.0.0.4", 10),  # unparseable ts
        ("log_5", "user_5", "2024-02-01T10:00:00", "10.0.0.5", -7),  # negative
        ("log_6", "user_6", "2024-02-01T10:00:00", "10.0.0.6", None),  # null wt
    ]
    valid, quarantine = split_quality(parse_raw(_raw_df(spark, rows)))
    v = valid.collect()
    assert [r.log_id for r in v] == ["log_1"]
    assert v[0].timestamp == datetime(2024, 2, 1, 10, 0, 0)
    assert v[0].watch_time == 30.0
    assert valid.columns == ["log_id", "user_id", "timestamp", "ip_address", "watch_time"]
    q = quarantine.collect()
    assert len(q) == 5
    assert all(r.dq_reason.startswith("Failed semantic validation") for r in q)
    assert all(r.processing_time is not None for r in q)


def test_dedup_keep_first_is_deterministic(spark):
    rows = [
        ("a", "2024-01-01T00:00:02", 2.0),
        ("a", "2024-01-01T00:00:01", 1.0),
        ("a", "2024-01-01T00:00:01", 0.5),  # ts tie → value breaks it
        ("b", "2024-01-01T00:00:09", 9.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts string, v double")
    out = dedup_keep_first(df, keys=["k"], order_by=["ts", "v"]).collect()
    got = {r.k: (r.ts, r.v) for r in out}
    assert got == {"a": ("2024-01-01T00:00:01", 0.5), "b": ("2024-01-01T00:00:09", 9.0)}
    # idempotence: dedup(dedup(x)) == dedup(x)
    once = dedup_keep_first(df, keys=["k"], order_by=["ts", "v"])
    twice = dedup_keep_first(once, keys=["k"], order_by=["ts", "v"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_dedup_any_keeps_one_per_key(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "k string, v int"
    )
    assert dedup_any(df, ["k"]).count() == 2


def test_geo_enrich_broadcast_join_with_unknown_default(spark):
    facts = spark.createDataFrame(
        [("log_1", "10.0.0.1"), ("log_2", "10.9.9.9")], "log_id string, ip_address string"
    )
    dim = spark.createDataFrame([("10.0.0.1", "Europe")], "ip_address string, region string")
    out = {r.log_id: r.geo_region for r in geo_enrich(facts, dim).collect()}
    assert out == {"log_1": "Europe", "log_2": "Unknown"}
    # The join must be planned as a broadcast (no shuffle of the fact side).
    plan = geo_enrich(facts, dim)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_gold_argmax_deterministic_on_ties(spark):
    # one user, two regions, equal summed watch time → tie broken by region name
    rows = [
        ("u1", "Asia", 10.0),
        ("u1", "Europe", 10.0),
        ("u2", "Africa", 1.0),
        ("u2", "Africa", 2.0),
        ("u2", "Oceania", 2.5),
    ]
    df = spark.createDataFrame(rows, "user_id string, geo_region string, watch_time double")
    out = user_argmax_totals(df).collect()
    top = {r.user_id: (r.geo_region, r.top_region_watch_time) for r in out}
    assert top == {"u1": ("Asia", 10.0), "u2": ("Africa", 3.0)}
    tot = {r.user_id: (r.geo_region, r.total_watch_time) for r in out}
    assert tot == {"u1": ("Asia", 20.0), "u2": ("Africa", 5.5)}


def test_gold_argmax_one_row_per_user(spark, sf_dir):
    from investcloud_data_pipeline_spark.plans.pipeline_queries import gold_user_argmax

    out = gold_user_argmax(spark, sf_dir)
    n_users = out.select("user_id").distinct().count()
    assert out.count() == n_users > 0
