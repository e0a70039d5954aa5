"""Relational operator coverage: TPC-H-style queries over the driver's
star schema + window/set/json/approx operators over ``events``.

The reference's relational surface is small (SURVEY §2.6-§2.9: one
broadcast lookup join, two grouped sums, one ranking window, no set ops);
this module proves the full equi-join/agg/window/set-op surface a user of
a general analytics engine needs, at Catalyst-native quality: multi-way
joins left to AQE join reordering, small dims broadcast, sums in exact
decimal so oracle comparison is bit-stable (plans/__init__ note).

Scale notes per query in the docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.batch import load_table

DEC = "decimal(18,2)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- Q1-style pricing summary: the canonical scan-heavy partial-agg query.
# Scale: one pass over lineitem, map-side partial HashAggregate on 6 groups
# → trivial final agg. No join, no skew concern; pushdown of the shipdate
# filter into the parquet scan is the thing to check in .explain.
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    charge = disc_price * (F.lit(1).cast(DEC) + F.col("l_tax").cast(DEC))
    return (
        l.filter(F.col("l_shipdate") <= F.expr("timestamp'1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(F.col("l_discount").cast(DEC)).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


Q1_PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- Q3-style shipping priority: 3-way join + agg + deterministic top-10.
# Scale: customer filter prunes the build side; orders⋈lineitem is the big
# shuffle join on orderkey (co-partitionable/bucketable); top-k is a
# TakeOrderedAndProject — no global sort materialization.
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.expr("timestamp'1998-03-15 00:00:00'")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.expr("timestamp'1998-03-15 00:00:00'")
    )
    revenue = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).alias("rev"))
        .orderBy(F.col("rev").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey",
            F.col("rev").cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


Q3_SHIPPING_PRIORITY_SQL = """
SELECT l_orderkey, CAST(rev AS DOUBLE) AS revenue, o_orderdate, o_orderpriority
FROM (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
    AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
  GROUP BY l_orderkey, o_orderdate, o_orderpriority
)
ORDER BY rev DESC, l_orderkey ASC
LIMIT 10
"""


# --- Q5-style local supplier volume: 6-way join through the full snowflake.
# Scale: region/nation (5/25 rows) broadcast; customer/supplier join
# nation broadcast-side; the orders⋈lineitem⋈supplier chain shuffles on
# orderkey then suppkey — AQE reorders/skew-splits as needed.
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("timestamp'1996-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("timestamp'1997-01-01 00:00:00'"))
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(s, (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


Q5_LOCAL_SUPPLIER_VOLUME_SQL = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


# --- Top-k per group: the row_number idiom (reference W1+F3 generalized).
def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("c_nationkey", F.col("rk").cast("long").alias("rk"), "c_custkey", "c_name", "c_acctbal")
    )


TOP_CUSTOMERS_PER_NATION_SQL = """
SELECT c_nationkey, rk, c_custkey, c_name, c_acctbal
FROM (
  SELECT *, row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
  FROM customer
)
WHERE rk <= 3
"""


# --- Analytic windows: lag/lead/moving aggregate over event time.
# Scale: partitioned by user_id (high cardinality) — one shuffle, one sort,
# all four window functions share the frame.
def user_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w3 = w.rowsBetween(-2, 0)
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("event_type", 1).over(w).alias("next_type"),
        F.sum(F.col("value").cast(DEC)).over(w3).cast("double").alias("moving_sum_3"),
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w))).alias(
            "gap_seconds"
        ),
    )


USER_SESSION_WINDOWS_SQL = """
SELECT user_id, event_id, ts,
       lag(value, 1) OVER w AS prev_value,
       lead(event_type, 1) OVER w AS next_type,
       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum_3,
       CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts, 1) OVER w)) AS BIGINT) AS gap_seconds
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# --- Sessionization: gap > 30 min starts a new session (lag + running sum).
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w))
    new_session = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    with_sess = e.withColumn("session_seq", F.sum(new_session).over(w))
    return (
        with_sess.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("session_value"),
        )
    )


SESSIONIZE_EVENTS_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts, 1) OVER w IS NULL
                   OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts, 1) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM sessions GROUP BY user_id, session_seq
"""


# --- Rollup: hierarchical aggregation (nation → status subtotals → total).
def rollup_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .rollup("c_nationkey", "o_orderstatus")
        .agg(
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total_price"),
            F.count("*").alias("n_orders"),
        )
    )


ROLLUP_ORDER_TOTALS_SQL = """
SELECT c_nationkey, o_orderstatus,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY ROLLUP (c_nationkey, o_orderstatus)
"""


# --- Semi/anti joins: EXISTS / NOT EXISTS without materializing the join.
def customers_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    with_big = c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", F.lit("has_big_order").alias("cohort")
    )
    without = c.join(big, c.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", F.lit("no_big_order").alias("cohort")
    )
    return with_big.unionByName(without)


CUSTOMERS_SEMI_ANTI_SQL = """
SELECT c_custkey, 'has_big_order' AS cohort FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
UNION ALL
SELECT c_custkey, 'no_big_order' AS cohort FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
"""


# --- Set operations: union / intersect / except on key sets.
def set_ops_order_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    early = o.filter(
        F.col("o_orderdate") < F.expr("timestamp'1997-01-01 00:00:00'")
    ).select("o_custkey")
    high = o.filter(F.col("o_totalprice") > 150000).select("o_custkey")
    both = early.intersect(high).select("o_custkey", F.lit("both").alias("cohort"))
    # subtract == SQL EXCEPT (distinct semantics); exceptAll would keep
    # multiplicity and double-count keys that appear in both cohorts.
    only_early = early.subtract(high).select(
        "o_custkey", F.lit("early_only").alias("cohort")
    )
    return both.unionByName(only_early)


SET_OPS_ORDER_COHORTS_SQL = """
WITH early AS (SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
high AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
SELECT o_custkey, 'both' AS cohort FROM (SELECT o_custkey FROM early INTERSECT SELECT o_custkey FROM high)
UNION ALL
SELECT o_custkey, 'early_only' AS cohort FROM (SELECT DISTINCT o_custkey FROM early EXCEPT SELECT DISTINCT o_custkey FROM high)
"""


# --- Pivot (as conditional aggregation so SQL names match exactly).
def pivot_status_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")

    def status_sum(s: str):
        return F.sum(
            F.when(F.col("o_orderstatus") == s, F.col("o_totalprice").cast(DEC))
            .otherwise(F.lit(0).cast(DEC))
        ).cast("double")

    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            status_sum("O").alias("open_total"),
            status_sum("F").alias("fulfilled_total"),
            status_sum("P").alias("pending_total"),
        )
    )


PIVOT_STATUS_BY_NATION_SQL = """
SELECT c_nationkey,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS open_total,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS fulfilled_total,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS pending_total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
"""


# --- JSON extraction (events.props is a JSON string; SURVEY §2.10 note).
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


JSON_PROPS_EXTRACT_SQL = """
SELECT event_type,
       count(CAST(json_extract_string(props, '$.k') AS INT)) AS n_with_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type
"""


# --- Built-in session windows (F.session_window): dynamic-gap
# sessionization as a single grouped aggregate — the Expand-free,
# state-mergeable form that also runs on streams (watermark + append
# mode), unlike the manual gaps-and-islands plan in sessionize_events.
# New session when the gap since the previous event is >= 10 minutes.
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n",
        )
    )


SESSION_WINDOW_STATS_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 10 MINUTE AS session_end, count(*) AS n
FROM sess GROUP BY user_id, sid
"""


# --- VARIANT semi-structured path (Spark 4): parse once into the
# binary variant encoding, then typed path extraction — the
# scale-correct alternative to repeated string JSON parsing (one parse,
# columnar-shreddable, no per-access regex). Extractions are projected
# to plain columns so the result stays oracle-comparable.
def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.select("event_type", F.parse_json("props").alias("v"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.variant_get("v", "$.k", "long")).alias("sum_k"),
            F.max(F.variant_get("v", "$.k", "long")).alias("max_k"),
            F.count(F.try_variant_get("v", "$.absent", "long")).alias("n_absent"),
            F.min(F.schema_of_variant("v")).alias("variant_schema"),
        )
    )


VARIANT_PROPS_EXTRACT_SQL = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       CAST(count(json_extract_string(props, '$.absent')) AS BIGINT) AS n_absent,
       'OBJECT<k: BIGINT>' AS variant_schema
FROM events GROUP BY event_type
"""


# --- Correlated LATERAL join (Spark 4 DataFrame API): top-2 orders per
# customer as a lateral subquery with outer references — the per-row
# "top-k of my children" shape. Catalyst decorrelates it to a
# partitioned rank rather than a nested loop, so it scales like the
# window-function top-k (one shuffle on the correlation key).
def lateral_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    top2 = (
        o.where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(2)
        .select("o_orderkey", "o_totalprice")
    )
    return c.lateralJoin(top2).select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


LATERAL_TOP_ORDERS_PER_CUSTOMER_SQL = """
SELECT c_custkey, c_name, t.o_orderkey, t.o_totalprice
FROM customer, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
"""


# --- SQL pipe syntax (Spark 4): the same Catalyst plan issued through
# the |> operator chain — proves the SQL text surface accepts the
# modern piped form (WHERE after AGGREGATE, etc.), not just ANSI.
def pipe_syntax_returnflag_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql_interface import sql

    return sql(
        spark,
        sf_dir,
        """
        FROM lineitem
        |> WHERE l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        |> AGGREGATE count(*) AS n, sum(l_quantity) AS qty GROUP BY l_returnflag
        |> WHERE n > 0
        """,
    )


PIPE_SYNTAX_RETURNFLAG_STATS_SQL = """
SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty
FROM lineitem
WHERE l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag
HAVING count(*) > 0
"""


# --- XML functions: serialize each row to XML and parse it back
# (to_xml → from_xml round-trip), then aggregate the extracted fields —
# proves the XML path end-to-end while keeping the result comparable as
# plain columns. Integer payloads only: float→string formatting is
# engine-specific, int round-trips are exact.
def xml_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor("value").cast("long").alias("v"),
    )
    xml = e.select("event_id", F.to_xml(F.struct("event_type", "v")).alias("x"))
    parsed = xml.select(
        "event_id",
        F.from_xml("x", "event_type string, v long").alias("p"),
    )
    return (
        parsed.groupBy(F.col("p.event_type").alias("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum("p.v").alias("sum_v"),
        )
    )


XML_ROUNDTRIP_EVENTS_SQL = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_v
FROM events GROUP BY event_type
"""


# --- Higher-order array functions: transform / filter / aggregate /
# exists / forall over per-order quantity arrays. HOFs evaluate
# interpreted (no codegen) — fine at one array per order; for hot
# aggregate-shaped paths prefer explode+groupBy (see NOTES).
def higher_order_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("q")
    )
    arr = F.sort_array(F.collect_list("q"))
    return (
        l.groupBy("l_orderkey")
        .agg(arr.alias("qs"))
        .select(
            "l_orderkey",
            F.size("qs").alias("n_items"),
            F.aggregate(
                "qs", F.lit(0).cast("long"), lambda acc, x: acc + x
            ).alias("total_qty"),
            F.size(F.filter("qs", lambda x: x > 25)).alias("n_big"),
            F.element_at(F.transform("qs", lambda x: x * 2), 1).alias(
                "doubled_min"
            ),
            F.exists("qs", lambda x: x == 1).alias("has_unit"),
            F.forall("qs", lambda x: x <= 50).alias("all_below_cap"),
        )
    )


HIGHER_ORDER_ARRAY_OPS_SQL = """
SELECT l_orderkey,
       CAST(count(*) AS INTEGER) AS n_items,
       CAST(sum(q) AS BIGINT) AS total_qty,
       CAST(count(CASE WHEN q > 25 THEN 1 END) AS INTEGER) AS n_big,
       2 * min(q) AS doubled_min,
       bool_or(q = 1) AS has_unit,
       bool_and(q <= 50) AS all_below_cap
FROM (SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS q FROM lineitem)
GROUP BY l_orderkey
"""


# --- Time-range window frame (RANGE BETWEEN interval PRECEDING):
# per-user rolling 1-hour totals. Spark range frames need a numeric
# ordering column, so the frame is expressed over unix microseconds —
# identical semantics to the oracle's native interval frame. The summed
# metric is pre-scaled to integer micros so the rolling sum is exact
# regardless of intra-frame ordering of timestamp ties.
def time_range_window_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    # Defensive cast: unix_micros requires TIMESTAMP (ltz); load_table
    # normalizes TIMESTAMP_NTZ parquet drift already, but keep this query
    # robust to any caller handing in an NTZ column directly.
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    amount = F.floor(F.col("value") * 1_000_000).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(amount).over(w).alias("rolling_hour_micros"),
        F.count(F.lit(1)).over(w).alias("rolling_hour_events"),
    )


TIME_RANGE_WINDOW_TOTALS_SQL = """
SELECT event_id, user_id, ts,
       CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) OVER w AS BIGINT) AS rolling_hour_micros,
       count(*) OVER w AS rolling_hour_events
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


# --- FULL OUTER join on null-safe equality (<=>): the reconciliation
# shape — two aggregates over different slices, stitched so unmatched
# keys from EITHER side survive and the null key matches itself instead
# of disappearing (a plain = would drop every null-keyed row).
def full_outer_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    key = F.when(F.col("value") >= 1.0, F.floor("value") % 10)
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy(key.alias("k"))
        .agg(F.count("*").alias("n_click"))
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(key.alias("k"))
        .agg(F.count("*").alias("n_purch"))
    )
    c, p = clicks.alias("c"), purchases.alias("p")
    return (
        c.join(p, F.col("c.k").eqNullSafe(F.col("p.k")), "full_outer")
        .select(
            F.coalesce(F.col("c.k"), F.col("p.k")).alias("k"),
            "n_click",
            "n_purch",
        )
    )


FULL_OUTER_NULL_SAFE_JOIN_SQL = """
WITH c AS (
  SELECT CASE WHEN value >= 1.0 THEN CAST(floor(value) AS BIGINT) % 10 END AS k,
         count(*) AS n_click
  FROM events WHERE event_type = 'click' GROUP BY 1
), p AS (
  SELECT CASE WHEN value >= 1.0 THEN CAST(floor(value) AS BIGINT) % 10 END AS k,
         count(*) AS n_purch
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT coalesce(c.k, p.k) AS k, n_click, n_purch
FROM c FULL OUTER JOIN p ON c.k IS NOT DISTINCT FROM p.k
"""


# --- Sliding time windows (F.window with slide < duration): each event
# lands in duration/slide overlapping windows — Spark expands via the
# window generator then aggregates once. The oracle enumerates the same
# two window starts per event explicitly (floor-hour and floor-hour−1h).
def sliding_window_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 1_000_000).cast("long")).alias(
                "total_micros"
            ),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n",
            "total_micros",
        )
    )


SLIDING_WINDOW_EVENT_COUNTS_SQL = """
WITH starts AS (
  SELECT event_type, value,
         CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h
  FROM events
), expanded AS (
  SELECT event_type, value, h AS win_start FROM starts
  UNION ALL
  SELECT event_type, value, h - INTERVAL 1 HOUR FROM starts
)
SELECT win_start, event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS total_micros
FROM expanded
GROUP BY win_start, event_type
"""


# --- Recursive CTE (Spark 4): a gap-free month spine generated by the
# recursion itself (no sequence()/generate_series), left-joined to
# monthly order totals — the canonical "calendar spine" reporting shape.
# Spark's recursion is UNION ALL only (cyclic closure stays with the
# DataFrame components operator in operators/graph.py); depth here is
# bounded by the date range.
def recursive_month_spine_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql_interface import sql

    return sql(
        spark,
        sf_dir,
        """
        WITH RECURSIVE ks(k) AS (
          -- pure-constant recursion: each step is O(1), no table rescan
          -- (a data-dependent recursive member re-evaluates its source
          -- aggregate EVERY iteration — measured 20x slower). 96 months
          -- covers the generator's 1995-2001 range inside the engine's
          -- default 100-level recursion limit.
          SELECT 0
          UNION ALL
          SELECT k + 1 FROM ks WHERE k < 96
        ),
        bounds AS (
          SELECT date_trunc('MONTH', min(o_orderdate)) AS m0,
                 date_trunc('MONTH', max(o_orderdate)) AS m1
          FROM orders
        ),
        spine AS (
          SELECT m0 + make_interval(0, k) AS m
          FROM ks, bounds
          WHERE m0 + make_interval(0, k) <= m1
        ),
        monthly AS (
          SELECT date_trunc('MONTH', o_orderdate) AS m, count(*) AS n,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          FROM orders GROUP BY 1
        )
        SELECT spine.m AS month, coalesce(n, 0) AS n_orders,
               coalesce(total, 0.0) AS total_price
        FROM spine LEFT JOIN monthly ON spine.m = monthly.m
        """,
    )


RECURSIVE_MONTH_SPINE_ORDERS_SQL = """
WITH RECURSIVE ks(k) AS (
  SELECT 0
  UNION ALL
  SELECT k + 1 FROM ks WHERE k < 96
),
bounds AS (
  -- date_trunc yields DATE here vs TIMESTAMP in the engine: align types
  SELECT CAST(date_trunc('month', min(o_orderdate)) AS TIMESTAMP) AS m0,
         CAST(date_trunc('month', max(o_orderdate)) AS TIMESTAMP) AS m1
  FROM orders
),
spine AS (
  SELECT m0 + to_months(k) AS m
  FROM ks, bounds
  WHERE m0 + to_months(k) <= m1
),
monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM orders GROUP BY 1
)
SELECT spine.m AS month, coalesce(n, 0) AS n_orders,
       coalesce(total, 0.0) AS total_price
FROM spine LEFT JOIN monthly ON spine.m = monthly.m
"""


# --- ANSI-safe arithmetic (try_* family): Spark 4 runs ANSI mode by
# default, where overflow/div-zero/bad casts THROW; the try_ variants
# restore null-on-error semantics per expression — the contract a
# quarantine-style pipeline needs (error rows surface as nulls to route,
# instead of failing the job 90 minutes in).
def try_functions_safety(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no aggregate: five try_* expressions are evaluated per row and
    # every row is emitted, so per-row compute dominates the scan —
    # the scan is widened (sources/batch.py has the A/B)
    l = load_table(spark, sf_dir, "lineitem", scan_wide=True)
    return (
        l.select(
            "l_orderkey",
            "l_linenumber",
            F.try_divide(F.col("l_extendedprice"), F.col("l_quantity") - F.col("l_quantity")).alias("div0"),
            F.try_divide(F.col("l_extendedprice"), F.lit(4.0)).alias("quarter"),
            F.try_add(F.col("l_quantity"), F.col("l_tax")).alias("added"),
            F.col("l_returnflag").try_cast("double").alias("bad_cast"),
            F.col("l_quantity").cast("string").try_cast("double").alias("good_cast"),
        )
    )


TRY_FUNCTIONS_SAFETY_SQL = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice / nullif(l_quantity - l_quantity, 0.0) AS div0,
       l_extendedprice / 4.0 AS quarter,
       l_quantity + l_tax AS added,
       try_cast(l_returnflag AS DOUBLE) AS bad_cast,
       try_cast(CAST(l_quantity AS VARCHAR) AS DOUBLE) AS good_cast
FROM lineitem
"""


# --- unpivot/melt: wide→long reshape as a first-class operator
# (Expand node — one pass, no union-of-scans like the SQL spelling).
def unpivot_lineitem_charges(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    wide = l.groupBy("l_returnflag").agg(
        F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("base"),
        F.sum(
            (F.col("l_extendedprice").cast(DEC) * F.col("l_discount").cast(DEC))
        ).cast("double").alias("discount"),
        F.sum(
            (F.col("l_extendedprice").cast(DEC) * F.col("l_tax").cast(DEC))
        ).cast("double").alias("tax"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["base", "discount", "tax"],
        variableColumnName="component",
        valueColumnName="amount",
    )


UNPIVOT_LINEITEM_CHARGES_SQL = """
WITH wide AS (
  SELECT l_returnflag,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS base,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS discount,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS tax
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'base' AS component, base AS amount FROM wide
UNION ALL
SELECT l_returnflag, 'discount', discount FROM wide
UNION ALL
SELECT l_returnflag, 'tax', tax FROM wide
"""


# --- Distinct + exact percentile aggregates.
def distinct_and_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distincts + exact percentiles per group, as three narrow
    aggregation branches joined on the (3-row) group key instead of one
    multi-distinct aggregate. A fused agg plans an Expand of every row
    x (n_distinct_aggs + 1), dragging the percentile buffers through 3x
    the rows; the split form pre-shrinks each distinct branch with a
    map-side-combined distinct and feeds the percentile sort only its
    own scan. Measured 4.1s -> 1.2s at sf0.1, byte-identical results
    (each branch is exact; the joins are broadcast at 3 rows). At scale
    the three column-pruned scans read less than the fused Expand
    shuffles. (Sketch path for 100 TB remains approx_aggregates.)

    NULL semantics: each distinct branch filters NULL keys before
    ``distinct()`` so it matches ``count(DISTINCT col)`` (which skips
    NULLs) on nullable inputs too — ``distinct().count(*)`` alone would
    count a NULL key as one extra distinct value. TPC-H keys are
    non-null, so this is a semantic guard, not a result change there."""
    l = _t(spark, sf_dir, "lineitem")
    parts = (
        l.select("l_returnflag", "l_partkey")
        .where(F.col("l_partkey").isNotNull())
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_parts"))
    )
    supps = (
        l.select("l_returnflag", "l_suppkey")
        .where(F.col("l_suppkey").isNotNull())
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_supps"))
    )
    pcts = l.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90_price"),
    )
    return (
        pcts.join(parts, "l_returnflag")
        .join(supps, "l_returnflag")
        .select(
            "l_returnflag", "n_parts", "n_supps", "median_qty", "p90_price"
        )
    )


DISTINCT_AND_PERCENTILES_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
FROM lineitem GROUP BY l_returnflag
"""


# --- Time-bucketed aggregation (batch form of a tumbling window, T-series).
def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
    )


HOURLY_EVENT_ROLLUP_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY date_trunc('hour', ts), event_type
"""


# --- Correlated scalar subquery shape: customers above their nation average.
def above_nation_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    nation_avg = c.groupBy("c_nationkey").agg(
        (F.sum(F.col("c_acctbal").cast(DEC)).cast("double") / F.count("*")).alias(
            "nation_avg"
        )
    )
    return (
        c.join(F.broadcast(nation_avg), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )


ABOVE_NATION_AVG_CUSTOMERS_SQL = """
WITH na AS (
  SELECT c_nationkey,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS nation_avg
  FROM customer GROUP BY c_nationkey
)
SELECT c_custkey, c.c_nationkey, c_acctbal
FROM customer c JOIN na ON c.c_nationkey = na.c_nationkey
WHERE c_acctbal > na.nation_avg
"""

# --- Q4-style: order priority checking (semi-join EXISTS + agg).
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("timestamp'1996-07-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("timestamp'1996-10-01 00:00:00'"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.expr("timestamp'1997-01-01 00:00:00'")
    )
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


Q4_ORDER_PRIORITY_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00')
GROUP BY o_orderpriority
"""


# --- Q6-style: forecast revenue change (pure scan-filter-agg; the
# pushdown benchmark — every predicate reaches the parquet scan).
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.expr("timestamp'1996-01-01 00:00:00'"))
            & (F.col("l_shipdate") < F.expr("timestamp'1997-01-01 00:00:00'"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.08)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(DEC) * F.col("l_discount").cast(DEC)
            ).cast("double").alias("revenue"),
            F.count("*").alias("n"),
        )
    )


Q6_FORECAST_REVENUE_SQL = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.08
  AND l_quantity < 24
"""


# --- Q7-style: volume shipping between two nations (supplier nation ×
# customer nation flows by year).
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    revenue = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    return (
        s.join(l, s.s_suppkey == l.l_suppkey)
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


Q7_VOLUME_SHIPPING_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name < n2.n_name
GROUP BY 1, 2, 3
"""


# --- Q10-style: returned-item reporting (top-20 customers by lost revenue).
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("timestamp'1996-10-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("timestamp'1997-01-01 00:00:00'"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(revenue).alias("rev"))
        .orderBy(F.col("rev").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey", "c_name",
            F.col("rev").cast("double").alias("revenue"),
            "c_acctbal", "n_name",
        )
    )


Q10_RETURNED_ITEMS_SQL = """
SELECT c_custkey, c_name, CAST(rev AS DOUBLE) AS revenue, c_acctbal, n_name
FROM (
  SELECT c_custkey, c_name, c_acctbal, n_name,
         sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    AND l_returnflag = 'R'
  GROUP BY c_custkey, c_name, c_acctbal, n_name
)
ORDER BY rev DESC, c_custkey ASC LIMIT 20
"""


# --- Ranking-window function surface: the full rank-family over one
# partition/sort (shared window → one shuffle + one sort for all six).
def window_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first_value(F.col("c_custkey")).over(w).alias("segment_top_cust"),
    )


WINDOW_RANK_FUNCTIONS_SQL = """
SELECT c_custkey, c_mktsegment, c_acctbal,
       row_number() OVER w AS rn,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       first_value(c_custkey) OVER w AS segment_top_cust
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
"""


# --- Array/collection function surface: per-user event-type profiles.
def array_functions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    arr = F.array_sort(F.collect_list("event_type"))
    return (
        e.groupBy("user_id")
        .agg(arr.alias("all_types"))
        .select(
            "user_id",
            # Arrays are exercised (slice/distinct/sort) but projected to
            # delimited strings: the driver's correctness canonicalizer
            # cannot hash list-typed cells (round-1 gate failure).
            F.array_join(F.slice(F.col("all_types"), 1, 3), ",").alias("first3_csv"),
            F.array_join(F.array_distinct(F.col("all_types")), ",").alias("distinct_types_csv"),
            F.size(F.array_distinct(F.col("all_types"))).cast("long").alias("n_distinct"),
            F.array_contains(F.col("all_types"), "purchase").alias("has_purchase"),
            F.array_position(F.col("all_types"), "error").cast("long").alias("first_error_pos"),
            F.array_join(F.array_distinct(F.col("all_types")), ",").alias("types_csv"),
        )
    )


ARRAY_FUNCTIONS_EVENTS_SQL = """
WITH agg AS (
  SELECT user_id, list_sort(list(event_type)) AS all_types FROM events GROUP BY user_id
)
SELECT user_id,
       array_to_string(all_types[1:3], ',') AS first3_csv,
       array_to_string(list_sort(list_distinct(all_types)), ',') AS distinct_types_csv,
       len(list_distinct(all_types)) AS n_distinct,
       list_contains(all_types, 'purchase') AS has_purchase,
       CAST(coalesce(list_position(all_types, 'error'), 0) AS BIGINT) AS first_error_pos,
       array_to_string(list_sort(list_distinct(all_types)), ',') AS types_csv
FROM agg
"""


# --- Q13-style: customer order-count distribution (left outer join +
# double aggregation; the classic "customers with zero orders" shape).
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


Q13_CUSTOMER_DISTRIBUTION_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


# --- Q14-style promo revenue: conditional-ratio aggregate over the
# lineitem⋈part equi-join. Scale: part side shuffles on partkey (or
# broadcasts when the dim fits); the CASE folds into the partial agg so
# the join output never materializes — one scalar row out.
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("timestamp'1997-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("timestamp'1997-04-01 00:00:00'"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev).otherwise(
                        F.lit(0).cast(DEC)
                    )
                ).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


Q14_PROMO_REVENUE_SQL = """
SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
         THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
       / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
"""


# --- Q17-style small-quantity revenue: correlated scalar subquery
# decorrelated into a self-join against a per-part average. Scale: the
# per-part avg and the probe side shuffle on the SAME key (partkey), so
# Catalyst reuses the partitioning; avg over integer-valued doubles is
# FP-exact, keeping the threshold comparison deterministic.
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    part_avg = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(part_avg, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast(DEC)).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


Q17_SMALL_QUANTITY_REVENUE_SQL = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN (SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS qty_threshold
      FROM lineitem GROUP BY l_partkey) t ON l_partkey = pk
WHERE p_brand = 'Brand#23' AND l_quantity < qty_threshold
"""


# --- Q18-style large-volume orders: HAVING-filtered aggregate joined
# back to its fact's dimensions. Scale: the groupBy(orderkey) agg and the
# orders join share the orderkey partitioning; the >300 filter makes the
# agg output tiny, so AQE converts the join-back to broadcast at runtime.
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("o_qty"))
        .filter(F.col("o_qty") > 300)
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "o_qty",
        )
        .orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
        )
        .limit(100)
    )


Q18_LARGE_ORDERS_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, o_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN (SELECT l_orderkey, sum(l_quantity) AS o_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300) t
  ON o_orderkey = l_orderkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


# --- Q19-style disjunctive-predicate join: OR-of-ANDs spanning both
# sides of a lineitem⋈part join. Scale: Catalyst extracts the common
# partkey equi-condition for the hash join and pushes the per-side
# conjuncts (brand/size on part, quantity on lineitem) below it; the
# residual OR evaluates post-join inside codegen.
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    branch = lambda brand, s_lo, s_hi, q_lo, q_hi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s_lo, s_hi)
        & F.col("l_quantity").between(q_lo, q_hi)
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(
            branch("Brand#1", 1, 15, 1, 20)
            | branch("Brand#13", 10, 30, 10, 30)
            | branch("Brand#20", 20, 50, 20, 40)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


Q19_DISJUNCTIVE_REVENUE_SQL = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 20)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)
"""


# --- Q22-style idle high-balance customers: scalar subquery threshold +
# anti join (every customer in this data has SOME order, so "idle" =
# no order since 2000). Scale: the threshold aggregate is one scalar
# broadcast to every partition; the NOT EXISTS is a left-anti hash join
# on custkey with the date filter pushed to the orders scan — no
# driver-side collection anywhere.
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.expr("timestamp'2000-01-01 00:00:00'")
    )
    thr = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double") / F.count("*")
        ).alias("thr")
    )
    return (
        c.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("thr"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("totacctbal"),
        )
    )


Q22_IDLE_CUSTOMERS_SQL = """
SELECT c_mktsegment, count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                   FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_mktsegment
"""


# --- Q8-style market share: a nation's share of a region's market per
# order year. Scale: the two dimension chains (customer→nation→region,
# supplier→nation) broadcast; lineitem⋈orders is the one big shuffle;
# the share ratio folds into a single grouped aggregate.
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n_c = _t(spark, sf_dir, "nation").alias("nc")
    n_s = _t(spark, sf_dir, "nation").alias("ns")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("nc.n_nationkey"))
        .join(F.broadcast(r), F.col("nc.n_regionkey") == F.col("r_regionkey"))
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("ns.n_nationkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("ns.n_name") == "NATION_2", rev).otherwise(
                        F.lit(0).cast(DEC)
                    )
                ).cast("double")
                / F.sum(rev).cast("double")
            ).alias("mkt_share")
        )
    )


Q8_MARKET_SHARE_SQL = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CASE WHEN ns.n_name = 'NATION_2'
              THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
       / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
JOIN region   ON nc.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
WHERE r_name = 'ASIA'
GROUP BY year(o_orderdate)
"""


# --- Explicit GROUPING SETS (beyond rollup/cube): caller-chosen
# granularities in one pass — Expand multiplies rows by the number of
# sets, then a single shuffle aggregates all of them together.
def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total"),
        F.grouping_id().alias("gid"),
    )


GROUPING_SETS_ORDER_STATS_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       GROUPING(o_orderstatus, o_orderpriority) AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
"""


# --- Map-function surface: build a per-user event_type→count map
# (map_from_entries over a sorted collect_list) and read it back with
# element_at / map_keys / map_contains_key. The map stays inside the
# row — no explode round-trip — and the projected lookups keep the
# result oracle-comparable as plain columns.
def map_functions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    per_type = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    m = F.map_from_entries(
        F.sort_array(F.collect_list(F.struct("event_type", "c")))
    )
    return (
        per_type.groupBy("user_id")
        .agg(m.alias("type_counts"))
        .select(
            "user_id",
            F.element_at("type_counts", "click").alias("clicks"),
            F.element_at("type_counts", "purchase").alias("purchases"),
            F.size("type_counts").alias("ntypes"),
            F.map_contains_key("type_counts", "error").alias("has_error"),
            F.array_join(F.map_keys("type_counts"), ",").alias("types_csv"),
        )
    )


MAP_FUNCTIONS_EVENTS_SQL = """
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN c END) AS BIGINT) AS clicks,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN c END) AS BIGINT) AS purchases,
       CAST(count(*) AS INTEGER) AS ntypes,
       bool_or(event_type = 'error') AS has_error,
       string_agg(event_type, ',' ORDER BY event_type) AS types_csv
FROM (SELECT user_id, event_type, count(*) AS c FROM events GROUP BY user_id, event_type)
GROUP BY user_id
"""


# --- Statistical-moment aggregate family: correlation, covariance,
# variance/stddev (population + sample), skewness, excess kurtosis,
# exact median, and the regression aggregates — the profile-statistics
# surface of a warehouse engine. Engine-mapping notes: DuckDB's
# ``kurtosis`` is sample-bias-corrected, its ``kurtosis_pop`` matches
# Spark's population ``kurtosis``; DuckDB's ``skewness`` is
# sample-corrected, so the Spark side applies the g1 →
# G1 = g1·√(n(n−1))/(n−2) correction explicitly. All second-moment
# results round to 4-6 decimals — the moments accumulate in double and
# the final division is stable at that precision (verified both engines
# at sf0.001 and sf0.01). Scale: one partial+final HashAggregate pass,
# same profile as q1; every moment is a decomposable sum.
def statistical_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment statistics + exact median per group. The median
    (exact percentile) is an ObjectHashAggregate that buffers every
    value — fusing it with the moment aggregates drags ALL of them out
    of whole-stage-codegen onto that path. Splitting the median into
    its own branch joined on the (3-row) group key keeps the eleven
    moment aggregates in codegen'd HashAggregate update loops: measured
    2.6s -> 0.5s warm at sf0.1, byte-identical output (verified both
    sf)."""
    l = _t(spark, sf_dir, "lineitem")
    n = F.count("*")
    g1 = F.skewness("l_extendedprice")
    sample_skew = g1 * F.sqrt(n * (n - F.lit(1))) / (n - F.lit(2))
    moments = l.groupBy("l_returnflag").agg(
        n.alias("n_rows"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_pq"),
        F.round(F.covar_pop("l_extendedprice", "l_quantity"), 4).alias("covar_pop_pq"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias("covar_samp_pq"),
        F.round(F.stddev_pop("l_extendedprice"), 4).alias("sd_pop_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_samp_price"),
        F.round(F.var_pop("l_quantity"), 6).alias("var_pop_qty"),
        F.round(sample_skew, 6).alias("skew_price"),
        F.round(F.kurtosis("l_extendedprice"), 6).alias("kurt_pop_price"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("regr_slope_pq"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("regr_r2_pq"),
    )
    med = l.groupBy("l_returnflag").agg(
        F.round(F.median("l_discount"), 6).alias("med_disc")
    )
    return moments.join(med, "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        "corr_pq",
        "covar_pop_pq",
        "covar_samp_pq",
        "sd_pop_price",
        "sd_samp_price",
        "var_pop_qty",
        "skew_price",
        "kurt_pop_price",
        "med_disc",
        "regr_slope_pq",
        "regr_r2_pq",
    )


STATISTICAL_AGGREGATES_SQL = """
SELECT l_returnflag,
       count(*) AS n_rows,
       round(corr(l_extendedprice, l_quantity), 6) AS corr_pq,
       round(covar_pop(l_extendedprice, l_quantity), 4) AS covar_pop_pq,
       round(covar_samp(l_extendedprice, l_quantity), 4) AS covar_samp_pq,
       round(stddev_pop(l_extendedprice), 4) AS sd_pop_price,
       round(stddev_samp(l_extendedprice), 4) AS sd_samp_price,
       round(var_pop(l_quantity), 6) AS var_pop_qty,
       round(skewness(l_extendedprice), 6) AS skew_price,
       round(kurtosis_pop(l_extendedprice), 6) AS kurt_pop_price,
       round(median(l_discount), 6) AS med_disc,
       round(regr_slope(l_extendedprice, l_quantity), 6) AS regr_slope_pq,
       round(regr_r2(l_extendedprice, l_quantity), 6) AS regr_r2_pq
FROM lineitem
GROUP BY l_returnflag
"""


# --- Bitwise aggregates + positional generator: bit_and/or/xor fold the
# event ids per user (integer-exact, order-free — safe strict oracle);
# posexplode exposes element positions (DuckDB: generate_subscripts).
# Scale: bit-folds are decomposable (partial agg); posexplode is a
# JVM-side generator, no Python.
def bitwise_and_generators(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.bit_and("event_id").alias("id_bit_and"),
            F.bit_or("event_id").alias("id_bit_or"),
            F.bit_xor("event_id").alias("id_bit_xor"),
            F.array_sort(F.collect_set("event_type")).alias("types"),
        )
    )
    return (
        per_user.select(
            "user_id", "id_bit_and", "id_bit_or", "id_bit_xor",
            F.posexplode("types").alias("pos", "event_type"),
        )
        .withColumn("pos", (F.col("pos") + 1).cast("long"))
    )


BITWISE_AND_GENERATORS_SQL = """
WITH per_user AS (
  SELECT user_id,
         bit_and(event_id) AS id_bit_and,
         bit_or(event_id) AS id_bit_or,
         bit_xor(event_id) AS id_bit_xor,
         list_sort(list_distinct(list(event_type))) AS types
  FROM events GROUP BY user_id
)
SELECT user_id, id_bit_and, id_bit_or, id_bit_xor,
       CAST(generate_subscripts(types, 1) AS BIGINT) AS pos,
       unnest(types) AS event_type
FROM per_user
"""


QUERIES = {
    "q4_order_priority": (q4_order_priority, Q4_ORDER_PRIORITY_SQL),
    "statistical_aggregates": (statistical_aggregates, STATISTICAL_AGGREGATES_SQL),
    "bitwise_and_generators": (bitwise_and_generators, BITWISE_AND_GENERATORS_SQL),
    "q13_customer_distribution": (q13_customer_distribution, Q13_CUSTOMER_DISTRIBUTION_SQL),
    "array_functions_events": (array_functions_events, ARRAY_FUNCTIONS_EVENTS_SQL),
    "window_rank_functions": (window_rank_functions, WINDOW_RANK_FUNCTIONS_SQL),
    "q6_forecast_revenue": (q6_forecast_revenue, Q6_FORECAST_REVENUE_SQL),
    "q7_volume_shipping": (q7_volume_shipping, Q7_VOLUME_SHIPPING_SQL),
    "q10_returned_items": (q10_returned_items, Q10_RETURNED_ITEMS_SQL),
    "q1_pricing_summary": (q1_pricing_summary, Q1_PRICING_SUMMARY_SQL),
    "q3_shipping_priority": (q3_shipping_priority, Q3_SHIPPING_PRIORITY_SQL),
    "q5_local_supplier_volume": (q5_local_supplier_volume, Q5_LOCAL_SUPPLIER_VOLUME_SQL),
    "top_customers_per_nation": (top_customers_per_nation, TOP_CUSTOMERS_PER_NATION_SQL),
    "user_session_windows": (user_session_windows, USER_SESSION_WINDOWS_SQL),
    "sessionize_events": (sessionize_events, SESSIONIZE_EVENTS_SQL),
    "rollup_order_totals": (rollup_order_totals, ROLLUP_ORDER_TOTALS_SQL),
    "customers_semi_anti": (customers_semi_anti, CUSTOMERS_SEMI_ANTI_SQL),
    "set_ops_order_cohorts": (set_ops_order_cohorts, SET_OPS_ORDER_COHORTS_SQL),
    "pivot_status_by_nation": (pivot_status_by_nation, PIVOT_STATUS_BY_NATION_SQL),
    "json_props_extract": (json_props_extract, JSON_PROPS_EXTRACT_SQL),
    "distinct_and_percentiles": (distinct_and_percentiles, DISTINCT_AND_PERCENTILES_SQL),
    "hourly_event_rollup": (hourly_event_rollup, HOURLY_EVENT_ROLLUP_SQL),
    "above_nation_avg_customers": (above_nation_avg_customers, ABOVE_NATION_AVG_CUSTOMERS_SQL),
    "q8_market_share": (q8_market_share, Q8_MARKET_SHARE_SQL),
    "q14_promo_revenue": (q14_promo_revenue, Q14_PROMO_REVENUE_SQL),
    "q17_small_quantity_revenue": (q17_small_quantity_revenue, Q17_SMALL_QUANTITY_REVENUE_SQL),
    "q18_large_orders": (q18_large_orders, Q18_LARGE_ORDERS_SQL),
    "q19_disjunctive_revenue": (q19_disjunctive_revenue, Q19_DISJUNCTIVE_REVENUE_SQL),
    "q22_idle_customers": (q22_idle_customers, Q22_IDLE_CUSTOMERS_SQL),
    "grouping_sets_order_stats": (grouping_sets_order_stats, GROUPING_SETS_ORDER_STATS_SQL),
    "map_functions_events": (map_functions_events, MAP_FUNCTIONS_EVENTS_SQL),
    "variant_props_extract": (variant_props_extract, VARIANT_PROPS_EXTRACT_SQL),
    "lateral_top_orders_per_customer": (
        lateral_top_orders_per_customer,
        LATERAL_TOP_ORDERS_PER_CUSTOMER_SQL,
    ),
    "pipe_syntax_returnflag_stats": (
        pipe_syntax_returnflag_stats,
        PIPE_SYNTAX_RETURNFLAG_STATS_SQL,
    ),
    "session_window_stats": (session_window_stats, SESSION_WINDOW_STATS_SQL),
    "xml_roundtrip_events": (xml_roundtrip_events, XML_ROUNDTRIP_EVENTS_SQL),
    "higher_order_array_ops": (higher_order_array_ops, HIGHER_ORDER_ARRAY_OPS_SQL),
    "unpivot_lineitem_charges": (unpivot_lineitem_charges, UNPIVOT_LINEITEM_CHARGES_SQL),
    "try_functions_safety": (try_functions_safety, TRY_FUNCTIONS_SAFETY_SQL),
    "time_range_window_totals": (time_range_window_totals, TIME_RANGE_WINDOW_TOTALS_SQL),
    "recursive_month_spine_orders": (
        recursive_month_spine_orders,
        RECURSIVE_MONTH_SPINE_ORDERS_SQL,
    ),
    "sliding_window_event_counts": (
        sliding_window_event_counts,
        SLIDING_WINDOW_EVENT_COUNTS_SQL,
    ),
    "full_outer_null_safe_join": (
        full_outer_null_safe_join,
        FULL_OUTER_NULL_SAFE_JOIN_SQL,
    ),
}
