"""Unit tests for the wave-3 analytics extensions: gaps-and-islands
streaks, Adamic-Adar link prediction, bounded weighted SSSP, Gini
concentration, closed-form two-feature OLS, and lag-1 autocorrelation
— crafted inputs with hand-computed expected values plus defining
invariants on the real test tables."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from investcloud_data_pipeline_spark.plans import analytics_ext3 as AX3
from investcloud_data_pipeline_spark.plans import mining as MN


def _patched(monkeypatch, tables):
    # **kw absorbs load_table's opt-in flags (scan_wide) — synthetic
    # in-memory tables have no parquet layout to widen
    loader = lambda spark, d, name, **kw: tables[name]  # noqa: E731
    monkeypatch.setattr(AX3, "load_table", loader)
    # the co-purchase pair relation now comes from mining's session
    # store (round-12): patch the store's loader too, and turn the
    # stores off so this test's synthetic tables never enter (or read)
    # the shared store under the same fake sf_dir
    monkeypatch.setattr(MN, "load_table", loader)
    monkeypatch.setenv("SPARK_GRAFT_STORES", "off")


# ---------- gaps-and-islands streaks ----------

def test_streaks_crafted_islands(spark, monkeypatch):
    # user 1 active on days 1,2,3 | 5 | 7,8  -> 3 streaks, longest 3
    rows = [
        (i, f"2024-01-0{d} 12:00:00", 1, "view", 1.0, "{}")
        for i, d in enumerate([1, 2, 3, 5, 7, 8])
    ]
    # two events on the same day must not split or lengthen a streak
    rows.append((99, "2024-01-02 18:00:00", 1, "view", 1.0, "{}"))
    e = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4], r[5]) for r in rows],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    _patched(monkeypatch, {"events": e})
    out = AX3.user_activity_streaks(spark, "x").collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_active_days == 6
    assert r.n_streaks == 3
    assert r.max_streak_days == 3
    assert r.max_streak_start == "2024-01-01"


def test_streaks_tie_breaks_to_earliest_start(spark, monkeypatch):
    # two 2-day streaks -> earliest start wins
    e = spark.createDataFrame(
        [
            (1, "2024-03-01 00:00:00", 7, "x", 0.0, "{}"),
            (2, "2024-03-02 00:00:00", 7, "x", 0.0, "{}"),
            (3, "2024-03-10 00:00:00", 7, "x", 0.0, "{}"),
            (4, "2024-03-11 00:00:00", 7, "x", 0.0, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    _patched(monkeypatch, {"events": e})
    r = AX3.user_activity_streaks(spark, "x").collect()[0]
    assert r.max_streak_days == 2
    assert r.max_streak_start == "2024-03-01"


def test_streaks_conserve_distinct_days(spark, sf_dir):
    out = AX3.user_activity_streaks(spark, sf_dir)
    total = out.agg(F.sum("n_active_days")).collect()[0][0]
    expected = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
        .count()
    )
    assert total == expected
    assert (
        out.filter(
            F.col("max_streak_days") > F.col("n_active_days")
        ).count()
        == 0
    )


# ---------- Adamic-Adar link prediction ----------

def test_link_prediction_square_graph(spark, monkeypatch):
    # 4-cycle A-B-C-D-A as co-purchases (each edge = 2 shared orders to
    # clear the support-2 bar). Non-edges (A,C) and (B,D) each have two
    # common neighbors of degree 2 -> aa = 2 * round(1/ln 2, 9).
    edges = [(1, 2), (2, 3), (3, 4), (1, 4)]
    rows = []
    order = 0
    for a, b in edges:
        for _ in range(2):  # support 2
            order += 1
            rows.append((order, a))
            rows.append((order, b))
    li = spark.createDataFrame(
        [(o, p, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-01")
         for o, p in rows],
        "l_orderkey long, l_partkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate string",
    )
    _patched(monkeypatch, {"lineitem": li})
    out = {
        (r.u, r.w): (r.common_neighbors, r.aa_score)
        for r in AX3.copurchase_link_prediction(spark, "x").collect()
    }
    expected = round(2 * round(1 / math.log(2), 9), 6)
    assert out == {(1, 3): (2, expected), (2, 4): (2, expected)}


def test_link_prediction_never_returns_known_edges(spark, sf_dir):
    pred = AX3.copurchase_link_prediction(spark, sf_dir).select("u", "w")
    edges = AX3._support2_edges(spark, sf_dir).select(
        F.col("p1").alias("u"), F.col("p2").alias("w")
    )
    assert pred.join(edges, ["u", "w"]).count() == 0


# ---------- bounded weighted SSSP ----------

def test_sssp_prefers_cheaper_two_hop_path(spark, monkeypatch):
    # path graph 1-2-3 with strong supports (cheap) plus a weak (costly)
    # direct 1-3 edge: two cheap hops beat one expensive hop.
    #   support(1,2) = support(2,3) = 10 -> cost 100000 each
    #   support(1,3) = 2              -> cost 500000
    rows = []
    order = 0
    for a, b, s in [(1, 2, 10), (2, 3, 10), (1, 3, 2)]:
        for _ in range(s):
            order += 1
            rows.append((order, a))
            rows.append((order, b))
    li = spark.createDataFrame(
        [(o, p, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-01")
         for o, p in rows],
        "l_orderkey long, l_partkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate string",
    )
    _patched(monkeypatch, {"lineitem": li})
    out = {
        r.node: (r.cost, r.hops)
        for r in AX3.copurchase_weighted_sssp(spark, "x").collect()
    }
    # sources are the 3 smallest node ids = all of {1,2,3}; every node
    # is its own source at cost 0
    assert out == {1: (0, 0), 2: (0, 0), 3: (0, 0)}


def test_sssp_cost_and_hops_from_single_reachable_source(
    spark, monkeypatch
):
    # 5 nodes so the source set {1,2,3} does NOT cover everything:
    # chain 1-2 (sup 10), 4-5 (sup 10), 3-4 (sup 5), 2-4 (sup 2).
    rows = []
    order = 0
    for a, b, s in [(1, 2, 10), (4, 5, 10), (3, 4, 5), (2, 4, 2)]:
        for _ in range(s):
            order += 1
            rows.append((order, a))
            rows.append((order, b))
    li = spark.createDataFrame(
        [(o, p, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-01")
         for o, p in rows],
        "l_orderkey long, l_partkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate string",
    )
    _patched(monkeypatch, {"lineitem": li})
    out = {
        r.node: (r.cost, r.hops)
        for r in AX3.copurchase_weighted_sssp(spark, "x").collect()
    }
    # node 4: best is via 3 (200000), not via 2 (500000)
    assert out[4] == (200000, 1)
    # node 5: 3 -> 4 -> 5 = 200000 + 100000
    assert out[5] == (300000, 2)
    assert out[1] == (0, 0) and out[2] == (0, 0) and out[3] == (0, 0)


def test_sssp_real_data_invariants(spark, sf_dir):
    out = AX3.copurchase_weighted_sssp(spark, sf_dir)
    assert out.filter(F.col("cost") < 0).count() == 0
    assert out.filter(F.col("hops") > AX3.SSSP_ROUNDS).count() == 0
    zero = out.filter(F.col("cost") == 0)
    assert zero.count() == zero.filter(F.col("hops") == 0).count()


# ---------- Gini ----------

def _gini_tables(spark, revenues):
    orders = spark.createDataFrame(
        [
            (i + 1, i + 1, "O", float(rev), "1995-01-01", "1-URGENT")
            for i, rev in enumerate(revenues)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string,"
        " o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    customer = spark.createDataFrame(
        [(i + 1, f"c{i}", 0, 0.0, "BUILDING")
         for i in range(len(revenues))],
        "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    )
    nation = spark.createDataFrame(
        [(0, "ZERO", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    return {"orders": orders, "customer": customer, "nation": nation}


def test_gini_zero_for_equal_revenues(spark, monkeypatch):
    _patched(monkeypatch, _gini_tables(spark, [10.0, 10.0, 10.0, 10.0]))
    r = AX3.customer_revenue_gini(spark, "x").collect()[0]
    assert r.gini == 0.0
    assert r.n_customers == 4


def test_gini_hand_computed_concentration(spark, monkeypatch):
    # revenues 1,1,1,97: G = 2*(1+2+3+4*97)/(4*100) - 5/4 = 0.72
    _patched(monkeypatch, _gini_tables(spark, [1.0, 1.0, 1.0, 97.0]))
    r = AX3.customer_revenue_gini(spark, "x").collect()[0]
    assert r.gini == 0.72


def test_gini_bounded_on_real_data(spark, sf_dir):
    out = AX3.customer_revenue_gini(spark, sf_dir)
    bad = out.filter(
        (F.col("gini") < 0) | (F.col("gini") >= 1)
    ).count()
    assert bad == 0


# ---------- closed-form OLS ----------

def test_ols_recovers_exact_linear_coefficients(spark, monkeypatch):
    # y = 2 + 3*x1 - 4*x2 exactly -> betas exact, R^2 = 1
    rows = []
    for i, (x1, x2) in enumerate(
        [(1.0, 0.0), (2.0, 0.25), (3.0, 0.5), (4.0, 0.0), (5.0, 0.75),
         (6.0, 0.25), (7.0, 0.5)]
    ):
        y = 2.0 + 3.0 * x1 - 4.0 * x2
        rows.append((1, i + 1, i + 1, x1, y, x2, 0.0, "N", "O",
                     "1995-01-01"))
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate string",
    )
    _patched(monkeypatch, {"lineitem": li})
    r = AX3.lineitem_ols_price(spark, "x").collect()[0]
    assert r.intercept == 2.0
    assert r.beta_quantity == 3.0
    assert r.beta_discount == -4.0
    assert r.r_squared == 1.0


def test_ols_r_squared_bounded_on_real_data(spark, sf_dir):
    out = AX3.lineitem_ols_price(spark, sf_dir)
    bad = out.filter(
        (F.col("r_squared") < 0) | (F.col("r_squared") > 1)
    ).count()
    assert bad == 0


# ---------- lag-1 autocorrelation ----------

def test_autocorr_one_for_linear_series(spark, monkeypatch):
    # monthly revenue 100, 200, ..., 600 for one nation: consecutive
    # pairs are perfectly linearly related -> r = 1
    orders = spark.createDataFrame(
        [
            (m + 1, 1, "O", 100.0 * (m + 1), f"1995-{m + 1:02d}-15",
             "1-URGENT")
            for m in range(6)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string,"
        " o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    customer = spark.createDataFrame(
        [(1, "c", 0, 0.0, "BUILDING")],
        "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    )
    nation = spark.createDataFrame(
        [(0, "ZERO", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    _patched(
        monkeypatch,
        {"orders": orders, "customer": customer, "nation": nation},
    )
    r = AX3.nation_monthly_autocorr(spark, "x").collect()[0]
    assert r.n_pairs == 5
    assert r.lag1_autocorr == 1.0


def test_autocorr_null_when_too_few_pairs(spark, monkeypatch):
    orders = spark.createDataFrame(
        [
            (1, 1, "O", 100.0, "1995-01-15", "1-URGENT"),
            (2, 1, "O", 150.0, "1995-02-15", "1-URGENT"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string,"
        " o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    customer = spark.createDataFrame(
        [(1, "c", 0, 0.0, "BUILDING")],
        "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    )
    nation = spark.createDataFrame(
        [(0, "ZERO", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    _patched(
        monkeypatch,
        {"orders": orders, "customer": customer, "nation": nation},
    )
    r = AX3.nation_monthly_autocorr(spark, "x").collect()[0]
    assert r.lag1_autocorr is None


def test_autocorr_bounded_on_real_data(spark, sf_dir):
    out = AX3.nation_monthly_autocorr(spark, sf_dir)
    bad = out.filter(
        (F.col("lag1_autocorr") < -1) | (F.col("lag1_autocorr") > 1)
    ).count()
    assert bad == 0
