"""Temporal join operators Spark lacks natively: as-of join and range
join, implemented Spark-first (single-shuffle window / bucketed
equi-join), plus the remaining aggregate surface (cube + grouping id,
global top-N, string functions, approximate aggregates).

As-of join strategy: union both sides with a side marker, one window
partitioned by the key ordered by (ts, side), and ``last_value(...,
ignoreNulls)`` carries the most recent right-side payload onto each left
row. One shuffle + one sort total — no join at all, which beats the
naive inequality join (O(n·m) row pairs) and stays fully deterministic.

Range join strategy: coarse time-bucketing; each left row probes its own
bucket and the two adjacent ones (explode of 3 bucket keys), the join is
a plain equi-join on (key, bucket), and the exact predicate filters the
bucket false-positives. At 100 TB this turns an unbounded inequality
join into a co-partitionable equi-join whose fan-out is bounded by
bucket width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.batch import load_table

DEC = "decimal(18,2)"


def asof_purchase_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase event: the same user's most recent click at or
    before the purchase time (classic event-attribution as-of join).

    Right side (clicks) is pre-aggregated to one row per (user, ts) so
    tie handling is deterministic in every engine.
    """
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    tagged = purchases.select(
        "user_id",
        "ts",
        F.lit(0).alias("is_click"),
        F.col("event_id"),
        F.col("value"),
        F.lit(None).cast("double").alias("click_value"),
        F.lit(None).cast("timestamp").alias("click_ts"),
    ).unionByName(
        clicks.select(
            "user_id",
            "ts",
            F.lit(1).alias("is_click"),
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("double").alias("value"),
            "click_value",
            F.col("ts").alias("click_ts"),
        )
    )
    # clicks sort BEFORE purchases at equal ts (is_click desc) → a click
    # at exactly the purchase time is eligible ("at or before").
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_click").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        tagged.withColumn(
            "last_click_ts", F.last("click_ts", ignorenulls=True).over(w)
        )
        .withColumn(
            "last_click_value", F.last("click_value", ignorenulls=True).over(w)
        )
        .filter(F.col("is_click") == 0)
        .select("event_id", "user_id", "ts", "value",
                "last_click_ts", "last_click_value")
    )


ASOF_PURCHASE_LAST_CLICK_SQL = """
WITH purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, ts, max(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id, p.ts, p.value,
       c.ts AS last_click_ts, c.click_value AS last_click_value
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def interval_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (purchase, click) pair of the same user with the click in
    the trailing 15-minute attribution window — the batch form of the
    stream-stream interval join (streaming/joins.py::attribute_purchases
    runs the IDENTICAL plan on two unbounded streams; its watermark is a
    no-op here)."""
    from ..streaming.joins import attribute_purchases

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), F.col("value").alias("amount")
    )
    return attribute_purchases(clicks, purchases, window="15 minutes")


INTERVAL_ATTRIBUTION_SQL = """
SELECT p.user_id AS user_id, p.ts AS purchase_ts, p.value AS amount,
       c.event_id AS click_id, c.ts AS click_ts
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 15 MINUTE
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


def interval_attribution_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-OUTER interval attribution (round 11): every attributed
    (purchase, click) pair PLUS unattributed purchases (null click
    columns) PLUS clicks that converted nothing (null purchase columns)
    — the batch form of the one stream-stream join mode the module
    lacked. ``streaming/joins.py::attribute_purchases(how="full_outer")``
    runs the IDENTICAL plan on two unbounded streams, where both sides'
    state evicts on watermark + the 15-minute bound.

    Scale: same single user_id shuffle as the inner form — outer-ness
    adds no extra exchange, only null-padding at the join operator; the
    interval bound is what keeps streaming state (and a 100 TB batch
    join's per-key fan-out) finite."""
    from ..streaming.joins import attribute_purchases

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"),
        F.col("value").alias("amount"),
    )
    return attribute_purchases(
        clicks, purchases, window="15 minutes", how="full_outer"
    )


INTERVAL_ATTRIBUTION_FULL_SQL = """
WITH p AS (
  SELECT user_id, ts AS purchase_ts, value AS amount
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ts AS click_ts, event_id AS click_id
  FROM events WHERE event_type = 'click'
)
SELECT coalesce(p.user_id, c.user_id) AS user_id,
       p.purchase_ts, p.amount, c.click_id, c.click_ts
FROM p FULL OUTER JOIN c
  ON p.user_id = c.user_id
 AND p.purchase_ts >= c.click_ts
 AND p.purchase_ts <= c.click_ts + INTERVAL 15 MINUTE
"""


def attributed_revenue_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED-STATEFUL twin (round 11): stream-stream LEFT SEMI
    interval join (each purchase once, no pair fan-out to double-count
    revenue) feeding a downstream tumbling revenue rollup — TWO state
    stores in one streaming query
    (streaming/joins.py::attributed_revenue_hourly runs the IDENTICAL
    plan on unbounded streams; the watermark propagates through the
    join to close the windows). Batch form restricts to the windows an
    append-mode-SHAPED watermark cut (max event ts − 30 min) would have
    closed — a boundary-conservative restriction, not byte-exact
    append-mode emission: the streaming default watermark is '1 hour'
    and the join's 15-minute interval bound delays propagation further,
    so the batch set is a superset near the watermark frontier. The
    oracle pair applies the same cut on both sides, so the comparison
    is exact; the streaming e2e test parameterizes its own
    watermark_delay (round-12 ADVICE)."""
    from ..streaming.joins import attributed_revenue_hourly as chain

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"),
        F.col("value").alias("amount"),
    )
    mx = e.groupBy().agg(F.max("ts").alias("mx"))
    return (
        chain(clicks, purchases)
        .crossJoin(F.broadcast(mx))
        .filter(
            F.col("win_start") + F.expr("INTERVAL 1 HOUR")
            <= F.col("mx") - F.expr("INTERVAL 30 MINUTES")
        )
        .select("win_start", "n_purchases", "revenue_micros")
    )


ATTRIBUTED_REVENUE_HOURLY_SQL = """
WITH m AS (SELECT max(ts) AS mx FROM events),
p AS (
  SELECT user_id, ts AS purchase_ts, value AS amount
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
)
SELECT date_trunc('hour', purchase_ts) AS win_start,
       count(*) AS n_purchases,
       CAST(sum(CAST(floor(amount * 1000000) AS BIGINT)) AS BIGINT)
         AS revenue_micros
FROM p CROSS JOIN m
WHERE EXISTS (
        SELECT 1 FROM c
        WHERE c.user_id = p.user_id
          AND p.purchase_ts >= c.click_ts
          AND p.purchase_ts <= c.click_ts + INTERVAL 15 MINUTE)
  AND date_trunc('hour', purchase_ts) + INTERVAL 1 HOUR
      <= mx - INTERVAL 30 MINUTE
GROUP BY 1
"""


def gap_fill_hourly_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + forward fill: per user, a dense hourly grid
    from their first to last event hour, carrying the latest observed
    value forward across empty hours.

    Spark-first plan: per-user bounds → ``F.sequence`` + ``explode``
    builds the grid WITHOUT a cross join (grid size bounded per key);
    hourly observations reduce to one deterministic row per (user, hour)
    (latest ts, event_id tie-break); the fill is one
    ``last(ignorenulls)`` window — a single shuffle on user_id shared by
    grid, join, and window. Scale: grid fan-out is |hours-in-range| per
    user; for multi-year ranges bucket the sequence by month first so no
    single task materializes an unbounded array."""
    e = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    w_pick = Window.partitionBy("user_id", "h").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    hourly = (
        e.select("user_id", hour.alias("h"), "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select("user_id", "h", "value")
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("hour"),
        )
    )
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # grid derives from hourly (self-lineage): explicit aliases make the
    # join keys unambiguous instead of leaning on plan-id disambiguation
    g, hv = grid.alias("g"), hourly.alias("hv")
    return (
        g.join(
            hv,
            (F.col("g.user_id") == F.col("hv.user_id"))
            & (F.col("g.hour") == F.col("hv.h")),
            "left",
        )
        .select(F.col("g.user_id").alias("user_id"), "hour", "value")
        .withColumn("filled", F.last("value", ignorenulls=True).over(w_fill))
        .select("user_id", "hour", "filled")
    )


GAP_FILL_HOURLY_VALUES_SQL = """
WITH ranked AS (
  SELECT user_id, date_trunc('hour', ts) AS h, value,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), hourly AS (
  SELECT user_id, h, value FROM ranked WHERE rn = 1
), bounds AS (
  SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM bounds
)
SELECT g.user_id,
       g.hour,
       last_value(hv.value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM grid g
LEFT JOIN hourly hv ON g.user_id = hv.user_id AND g.hour = hv.h
"""


def range_join_nearby_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each 'error' event: how many other events the same user had
    within ±300 s. Bucketed equi-join (bucket = 300 s) + exact filter."""
    e = load_table(spark, sf_dir, "events")
    bucket = lambda c: F.floor(F.unix_timestamp(c) / 300)  # noqa: E731
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id"),
        F.col("ts").alias("err_ts"),
        F.explode(
            F.array(bucket("ts") - 1, bucket("ts"), bucket("ts") + 1)
        ).alias("bucket"),
    )
    others = e.select(
        F.col("event_id").alias("other_id"),
        F.col("user_id"),
        F.col("ts").alias("other_ts"),
        bucket("ts").alias("bucket"),
    )
    return (
        errors.join(others, ["user_id", "bucket"])
        .filter(
            (F.col("other_id") != F.col("err_id"))
            & (F.abs(F.unix_timestamp("other_ts") - F.unix_timestamp("err_ts")) <= 300)
        )
        .groupBy("err_id", "user_id")
        .agg(F.count("*").alias("n_nearby"))
    )


RANGE_JOIN_NEARBY_EVENTS_SQL = """
SELECT e.event_id AS err_id, e.user_id, count(*) AS n_nearby
FROM events e
JOIN events o ON o.user_id = e.user_id
             AND o.event_id <> e.event_id
             AND abs(CAST(floor(epoch(o.ts)) AS BIGINT) - CAST(floor(epoch(e.ts)) AS BIGINT)) <= 300
WHERE e.event_type = 'error'
GROUP BY e.event_id, e.user_id
"""


def top_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global deterministic top-N (TakeOrderedAndProject — no full sort
    materialization, per-partition heaps + driver merge)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    )


TOP_ORDERS_GLOBAL_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25
"""


def string_functions_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface: regexp_extract, substring, concat, case-insensitive
    LIKE, length, replace — over part names/types."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", "([0-9]+)$", 1).alias("brand_num"),
        F.substring("p_type", 1, 6).alias("type_prefix"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.lower("p_name").like("%steel%").alias("is_steel"),
        F.length("p_name").cast("long").alias("name_len"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("no_vowels"),
    )


STRING_FUNCTIONS_PARTS_SQL = """
SELECT p_partkey,
       regexp_extract(p_brand, '([0-9]+)$', 1) AS brand_num,
       substring(p_type, 1, 6) AS type_prefix,
       concat_ws('/', p_brand, p_type) AS brand_type,
       lower(p_name) LIKE '%steel%' AS is_steel,
       length(p_name) AS name_len,
       regexp_replace(p_name, '[aeiou]', '', 'g') AS no_vowels
FROM part
"""


def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping_id — all 4 aggregation granularities in one
    pass (Expand + single shuffle)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total"),
            F.grouping_id().alias("gid"),
        )
    )


CUBE_ORDER_STATS_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       GROUPING(o_orderstatus, o_orderpriority) AS gid
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregation surface (HLL++ distinct count, GK-sketch
    quantiles). Rows-only oracle: sketch values are engine-specific by
    construction; exact counterparts are covered in
    distinct_and_percentiles."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx_median_price"),
        F.count("*").alias("n"),
    )


def q1_pricing_summary_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 issued as SQL TEXT through the engine's SQL surface — Catalyst
    compiles it to the same plan as the DataFrame form (same oracle)."""
    from ..sql_interface import sql

    return sql(
        spark,
        sf_dir,
        """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """,
    )


Q1_PRICING_SUMMARY_SQL_API_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def sql_udf_disc_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined SQL functions (CREATE FUNCTION ... RETURN expr) —
    the declarative UDF surface: the body inlines into the plan as a
    Catalyst expression, so unlike Python UDFs there is NO executor
    round-trip and whole-stage codegen stays intact. Verified by the
    oracle computing the inlined expression directly."""
    # bodies follow the repo's decimal discipline: cast INPUTS to
    # DECIMAL, multiply exactly — bit-stable under any aggregation order
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DECIMAL(38, 4) RETURN CAST(p AS DECIMAL(18,2)) "
        "* (CAST(1 AS DECIMAL(18,2)) - CAST(d AS DECIMAL(18,2)))"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION tax_charge(p DOUBLE, d DOUBLE, t DOUBLE) "
        "RETURNS DECIMAL(38, 6) RETURN CAST(p AS DECIMAL(18,2)) "
        "* (CAST(1 AS DECIMAL(18,2)) - CAST(d AS DECIMAL(18,2))) "
        "* (CAST(1 AS DECIMAL(18,2)) + CAST(t AS DECIMAL(18,2)))"
    )
    # four DECIMAL(38) multiplies per row over the whole fact table:
    # per-row compute dominates the scan stage, so the scan is widened
    # (sources/batch.py has the A/B)
    load_table(
        spark, sf_dir, "lineitem", scan_wide=True
    ).createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(sum(disc_price(l_extendedprice, l_discount)) AS DOUBLE) AS disc_revenue,
               CAST(sum(tax_charge(l_extendedprice, l_discount, l_tax)) AS DOUBLE) AS charged_revenue,
               count(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
        """
    )


SQL_UDF_DISC_REVENUE_SQL = """
SELECT l_returnflag,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS disc_revenue,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS charged_revenue,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
"""


def datetime_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function surface: extract fields, truncation, date
    arithmetic, epoch — aggregated so the result is compact."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
            F.month("o_orderdate").alias("mo"),
            F.dayofweek("o_orderdate").alias("dow"),
            F.date_add(F.to_date("o_orderdate"), 30).alias("due_date"),
            F.datediff(
                F.to_date(F.lit("2002-01-01")), F.to_date("o_orderdate")
            ).cast("long").alias("age_days"),
            F.col("o_totalprice"),
        )
        .groupBy("yr", "qtr")
        .agg(
            F.count("*").alias("n"),
            F.min("due_date").alias("first_due"),
            F.max("age_days").alias("max_age_days"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total"),
        )
    )


DATETIME_FUNCTIONS_ORDERS_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS yr,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       count(*) AS n,
       min(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY)::DATE AS first_due,
       max(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')) AS max_age_days,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY 1, 2
"""


def null_handling_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null/conditional surface: coalesce, nullif, least/greatest, CASE,
    null-safe comparisons."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")),
                   F.lit("SUPPRESSED")).alias("segment_masked"),
        F.least(F.col("c_acctbal"), F.lit(5000.0)).alias("capped_bal"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("floored_bal"),
        F.when(F.col("c_acctbal") < 0, F.lit("overdrawn"))
        .when(F.col("c_acctbal") < 1000, F.lit("low"))
        .otherwise(F.lit("normal"))
        .alias("balance_band"),
        F.col("c_acctbal").eqNullSafe(F.lit(0.0)).alias("exactly_zero"),
    )


NULL_HANDLING_CUSTOMER_SQL = """
SELECT c_custkey,
       coalesce(nullif(c_mktsegment, 'BUILDING'), 'SUPPRESSED') AS segment_masked,
       least(c_acctbal, 5000.0) AS capped_bal,
       greatest(c_acctbal, 0.0) AS floored_bal,
       CASE WHEN c_acctbal < 0 THEN 'overdrawn'
            WHEN c_acctbal < 1000 THEN 'low'
            ELSE 'normal' END AS balance_band,
       c_acctbal IS NOT DISTINCT FROM 0.0 AS exactly_zero
FROM customer
"""


def salted_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-stage salted sum — result-identical to a plain
    grouped sum (which is exactly what the oracle asserts). Decimal cast
    keeps partial-combination order irrelevant."""
    from ..operators.scale import salted_sum

    e = load_table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast(DEC)
    )
    out = salted_sum(e, ["user_id"], "value_dec", "total_value", salt_buckets=16)
    return out.select("user_id", F.col("total_value").cast("double").alias("total_value"))


SALTED_USER_TOTALS_SQL = """
SELECT user_id,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY user_id
"""


def skew_hot_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostic: heaviest keys first (deterministic tie-break)."""
    from ..operators.scale import hot_keys

    return hot_keys(load_table(spark, sf_dir, "events"), ["user_id"], top_n=10)


SKEW_HOT_USERS_SQL = """
SELECT user_id, count(*) AS n_rows
FROM events GROUP BY user_id
ORDER BY n_rows DESC, user_id ASC LIMIT 10
"""


def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column profiling of the orders table — HLL++ distinct
    counts (the 100 TB default: exact multi-column distinct is an Expand
    over every row × column and is the single most expensive part of a
    profile). Sketch estimates are engine-specific, so this entry is
    rows-only in the gate — the same convention as ``approx_aggregates``;
    :func:`profile_orders_exact` is the hash-checked twin."""
    from ..operators.profile import profile_table

    return profile_table(load_table(spark, sf_dir, "orders"), approx_distinct=True)


def profile_orders_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-distinct profile (oracle variant): same single-scan shape,
    ``countDistinct`` instead of the sketch — value-hash comparable
    against DuckDB."""
    from ..operators.profile import profile_table

    return profile_table(load_table(spark, sf_dir, "orders"))


_PROFILE_COLS = [
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "timestamp_ntz"),  # parquet isAdjustedToUTC=false → NTZ in Spark
    ("o_orderpriority", "string"),
]
PROFILE_ORDERS_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS "column", '{t}' AS dtype, count(*) AS n_rows,
       count(*) FILTER ({c} IS NULL) AS n_null,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value FROM orders"""
    for c, t in _PROFILE_COLS
)


def time_decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted per-user value: each event's value is decayed by
    half-life 7 days relative to the corpus' newest event, then summed
    per user — the standard closed-form "exponential decay without
    state" feature (weight = 0.5^(age_days/7)); no recursive/stateful
    computation needed, so it runs as one scan + one grouped sum.

    The global anchor (max ts) stays IN the plan as a broadcast 1-row
    aggregate (the sanctioned scalar-fold pattern — no driver
    round-trip); the only shuffle keys on user_id. round(6) absorbs
    double reassociation noise across engines."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    anchor = e.agg(F.max("ts").alias("anchor"))
    # microsecond precision on both sides: the driver tables carry
    # sub-second timestamps, and unix_timestamp() truncates to seconds
    age_days = (
        F.unix_micros("anchor") - F.unix_micros("ts")
    ) / F.lit(86400.0e6)
    return (
        e.crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            (F.col("value") * F.pow(F.lit(0.5), age_days / 7.0)).alias("w"),
        )
        .groupBy("user_id")
        .agg(
            F.round(F.sum("w"), 6).alias("decayed_value"),
            F.count("*").alias("n_events"),
        )
    )


TIME_DECAYED_USER_VALUE_SQL = """
WITH anchor AS (SELECT max(ts) AS anchor FROM events)
SELECT user_id,
       round(sum(value * power(0.5,
         ((epoch_us(anchor) - epoch_us(ts)) / 86400.0e6) / 7.0)), 6) AS decayed_value,
       count(*) AS n_events
FROM events, anchor
GROUP BY user_id
"""


# ---------- linear multi-touch attribution ----------
#
# Revenue credit assignment: each purchase's amount is split EQUALLY
# across the clicks in its trailing 15-minute window (linear
# attribution — the fair-share counterpart of the last-touch as-of
# join above). Built on the same interval pair relation as
# interval_attribution; the per-purchase click count is a window over
# the pair relation partitioned by purchase id (already shuffled on
# it), then one aggregate per click. Purchases with NO clicks in
# window simply contribute nothing (inner interval join).

def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"), F.col("value").alias("amount"),
    )
    pairs = purchases.join(
        clicks,
        (purchases["user_id"] == clicks["user_id"])
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 15 MINUTES")
        ),
    ).select(
        purchases["user_id"].alias("user_id"),
        "purchase_id",
        "amount",
        "click_id",
    )
    w = Window.partitionBy("purchase_id")
    return (
        pairs.withColumn("n_clicks", F.count("*").over(w))
        .groupBy("user_id", "click_id")
        .agg(
            F.round(F.sum(F.col("amount") / F.col("n_clicks")), 6).alias(
                "attributed_value"
            ),
            F.count("*").alias("n_purchases"),
        )
    )


ATTRIBUTION_LINEAR_SQL = """
WITH pairs AS (
  SELECT p.user_id, p.event_id AS purchase_id, p.value AS amount,
         c.event_id AS click_id,
         count(*) OVER (PARTITION BY p.event_id) AS n_clicks
  FROM events p JOIN events c
    ON p.user_id = c.user_id
   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 15 MINUTE
  WHERE p.event_type = 'purchase' AND c.event_type = 'click'
)
SELECT user_id, click_id,
       round(sum(amount / n_clicks), 6) AS attributed_value,
       count(*) AS n_purchases
FROM pairs
GROUP BY 1, 2
"""


# ---------- OHLC time-series resampling ----------
#
# The market-data bar shape: per (event_type, hour) emit
# open/high/low/close/volume. Open/close are min_by/max_by with a
# TOTAL order key — (ts, event_id) encoded as one zero-padded sortable
# string so ties at the same microsecond still pick one deterministic
# row on every engine (DuckDB's arg_min takes a scalar key, so the
# Spark side uses the identical string rather than a struct). One
# grouped aggregate, no window: min_by/max_by combine map-side like
# min/max, so the shuffle carries one row per (type, hour) bar — the
# resample output stays KB-sized however large the tick stream is.

def event_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    key = F.format_string(
        "%020d|%012d", F.unix_micros("ts"), F.col("event_id")
    )
    return (
        e.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("bar_hour"),
            F.col("value"),
            key.alias("k"),
        )
        .groupBy("event_type", "bar_hour")
        .agg(
            F.min_by("value", F.col("k")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.col("k")).alias("close"),
            F.count("*").alias("volume"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )


EVENT_OHLC_HOURLY_SQL = """
SELECT event_type,
       date_trunc('hour', ts) AS bar_hour,
       arg_min(value, printf('%020d|%012d', epoch_us(ts), event_id)) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, printf('%020d|%012d', epoch_us(ts), event_id)) AS close,
       count(*) AS volume,
       round(sum(value), 6) AS total_value
FROM events
GROUP BY 1, 2
"""


# ---------- rolling z-score outliers ----------
#
# Self-referential anomaly screen: each event scored against ITS OWN
# user's trailing window (mean/std of the 10 preceding events), so a
# globally-normal value still flags when it breaks that user's local
# pattern — the complement of event_value_outliers' global MAD screen.
# One window shuffle on user_id; the frame is bounded (10 rows), so
# state per key is O(1) and the same plan runs at any fact scale.
# Determinism: the frame is an exact row set under the (ts, event_id)
# total order; avg/stddev over ≤10 doubles agree across engines to
# ~1e-12 relative — the 6dp round has ~1e5× headroom.

def event_value_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    scored = e.select(
        "event_id",
        "user_id",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sigma"),
        F.count("value").over(w).alias("n_prev"),
    ).filter((F.col("n_prev") >= 5) & (F.col("sigma") > 0))
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return scored.select(
        "event_id",
        "user_id",
        F.round("value", 6).alias("value"),
        F.round("mu", 6).alias("mu"),
        F.round(z, 6).alias("zscore"),
    ).filter(F.abs(z) > 3.0)


EVENT_VALUE_ROLLING_ZSCORE_SQL = """
WITH scored AS (
  SELECT event_id, user_id, value,
         avg(value) OVER w AS mu,
         stddev_samp(value) OVER w AS sigma,
         count(value) OVER w AS n_prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id,
       round(value, 6) AS value,
       round(mu, 6) AS mu,
       round((value - mu) / sigma, 6) AS zscore
FROM scored
WHERE n_prev >= 5 AND sigma > 0 AND abs((value - mu) / sigma) > 3.0
"""


# ---------- supplier concentration per part (HHI) ----------
#
# Market-concentration screen: for each part, the Herfindahl–Hirschman
# index of supplier revenue shares (1.0 = single-sourced, 1/n = evenly
# split across n) — the sourcing-risk number next to q2/q15's supplier
# rankings. Two aggregations that share the l_partkey exchange (AQE
# reuse); shares are one decimal-exact division each, and the share²
# sum rides the DECIMAL(18,9) trick so per-part addition order can't
# flip the 6dp round.

def supplier_part_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    rev = F.sum(
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    )
    # persisted: both the per-part rollup and the share join consume
    # this relation — without it the lineitem aggregation runs twice
    ps = l.groupBy("l_partkey", "l_suppkey").agg(rev.alias("rev_ps")).persist()
    per_part = ps.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n_suppliers"),
        F.sum("rev_ps").alias("rev_p"),
    )
    share = F.col("rev_ps").cast("double") / F.col("rev_p").cast("double")
    return (
        ps.join(per_part, "l_partkey")
        .groupBy("l_partkey", "n_suppliers")
        .agg(
            F.max("rev_p").cast("double").alias("revenue"),
            F.round(
                F.sum(
                    F.round(share * share, 9).cast("decimal(18,9)")
                ).cast("double"),
                6,
            ).alias("hhi"),
        )
    )


SUPPLIER_PART_HHI_SQL = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev_ps
  FROM lineitem GROUP BY 1, 2
), per_part AS (
  SELECT l_partkey,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         sum(rev_ps) AS rev_p
  FROM ps GROUP BY 1
)
SELECT p.l_partkey, p.n_suppliers,
       CAST(max(p.rev_p) AS DOUBLE) AS revenue,
       round(CAST(sum(CAST(round(
           (CAST(s.rev_ps AS DOUBLE) / CAST(p.rev_p AS DOUBLE))
         * (CAST(s.rev_ps AS DOUBLE) / CAST(p.rev_p AS DOUBLE)), 9)
         AS DECIMAL(18,9))) AS DOUBLE), 6) AS hhi
FROM ps s JOIN per_part p USING (l_partkey)
GROUP BY 1, 2
"""


# ---------- sweep-line: concurrent shipments per day ----------
#
# Interval-overlap counting without an interval join: each shipment
# occupies [l_shipdate, l_shipdate + 7d); decompose every interval into
# a +1 start event and a −1 end event, aggregate deltas per day, and a
# cumulative window turns them into the active count — the sweep-line
# trick that replaces an O(days × shipments) range join with one
# aggregation plus a window over |distinct days| rows. At 100 TB the
# per-day delta aggregate is the only fact-sized shuffle (map-side
# combinable); the cumulative scan runs over a few thousand days.
# Integer counts only — nothing to round.

def lineitem_active_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    starts = l.select(
        F.col("l_shipdate").cast("date").alias("day"),
        F.lit(1).cast("long").alias("delta"),
    )
    ends = l.select(
        F.date_add(F.col("l_shipdate").cast("date"), 7).alias("day"),
        F.lit(-1).cast("long").alias("delta"),
    )
    deltas = (
        starts.unionByName(ends)
        .groupBy("day")
        .agg(F.sum("delta").alias("net"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return deltas.select(
        "day",
        F.col("net").cast("long").alias("net_change"),
        F.sum("net").over(w).cast("long").alias("active"),
    )


LINEITEM_ACTIVE_SHIPMENTS_SQL = """
WITH deltas AS (
  SELECT day, CAST(sum(delta) AS BIGINT) AS net FROM (
    SELECT CAST(l_shipdate AS DATE) AS day, 1 AS delta FROM lineitem
    UNION ALL
    SELECT CAST(l_shipdate AS DATE) + 7, -1 FROM lineitem
  ) GROUP BY day
)
SELECT day, net AS net_change,
       CAST(sum(net) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS active
FROM deltas
"""


# ---------- ABC / Pareto revenue classification ----------
#
# The 80/15/5 inventory screen: rank parts by revenue, cumulative
# revenue share in rank order, class A until 80%, B until 95%, C after.
# Revenue aggregates decimal-exact; the cumulative sum runs over the
# |parts|-row aggregate (not the fact stream) in a deterministic
# (revenue desc, partkey) order, and the share is ONE division per row
# of two exact decimals — no float accumulation anywhere.
# |parts| is unbounded, so the cumulative window is a single-partition
# funnel at extreme scale — the 100 TB form is the round-9 twin
# analytics_ext8.part_revenue_abc_binned (256 revenue bins, bracketed
# classes, no single-partition window).

def part_revenue_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    rev = (
        l.groupBy("l_partkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(DEC)
                * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
            ).alias("revenue")
        )
    )
    w = Window.orderBy(
        F.col("revenue").desc(), F.col("l_partkey").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    total = rev.agg(F.sum("revenue").alias("total"))
    share = F.col("cum").cast("double") / F.col("total").cast("double")
    return (
        rev.withColumn("cum", F.sum("revenue").over(w))
        .crossJoin(F.broadcast(total))
        .select(
            "l_partkey",
            F.col("revenue").cast("double").alias("revenue"),
            F.round(share, 6).alias("cum_share"),
            F.when(share <= 0.80, "A")
            .when(share <= 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )


PART_REVENUE_ABC_SQL = """
WITH rev AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS revenue
  FROM lineitem GROUP BY 1
), c AS (
  SELECT l_partkey, revenue,
         sum(revenue) OVER (ORDER BY revenue DESC, l_partkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         (SELECT sum(revenue) FROM rev) AS total
  FROM rev
)
SELECT l_partkey,
       CAST(revenue AS DOUBLE) AS revenue,
       round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_share,
       CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.80 THEN 'A'
            WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM c
"""



# ---------- EWMA smoothing over bounded trailing windows ----------
#
# Exponentially-weighted moving average, truncated to the trailing 16
# events and renormalized (weights (1-a)^(n-k) / sum) — the smoothing
# pass a monitoring pipeline runs before thresholding. The textbook
# recursive EWMA is not expressible as a window aggregate; the bounded
# truncation IS, via collect_list over the frame + a JVM higher-order
# fold — no Python, O(16) state per row, one shuffle on user_id.
# Determinism: weighted terms round to 9dp DECIMAL and fold LEFT in
# frame order on both engines (aggregate() folds in array order), so
# the 6dp result can't flap.

EWMA_ALPHA = 0.5
EWMA_WINDOW = 16


def event_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_WINDOW - 1), 0)
    )
    a = EWMA_ALPHA
    xs = F.collect_list("value").over(w)
    expr = f"""
round(CAST(aggregate(
  zip_with(__xs, sequence(1, size(__xs)), (x, k) ->
    CAST(round({a} * power({1-a}, size(__xs) - k) * x
               / (1 - power({1-a}, size(__xs))), 9) AS DECIMAL(18,9))),
  CAST(0 AS DECIMAL(28,9)),
  (acc, v) -> CAST(acc + v AS DECIMAL(28,9))) AS DOUBLE), 6)
"""
    return (
        e.select("event_id", "user_id", "ts", "value")
        .withColumn("__xs", xs)
        .drop("ts")
        .select(
            "event_id",
            "user_id",
            F.round("value", 6).alias("value"),
            F.expr(expr).alias("ewma"),
        )
    )


EVENT_VALUE_EWMA_SQL = f"""
WITH w AS (
  SELECT event_id, user_id, value,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN {EWMA_WINDOW - 1} PRECEDING AND CURRENT ROW) AS xs
  FROM events
), e AS (
  SELECT event_id, user_id, value, unnest(xs) AS xi,
         generate_subscripts(xs, 1) AS k, len(xs) AS n
  FROM w
)
SELECT event_id, user_id,
       round(value, 6) AS value,
       round(CAST(sum(CAST(round({EWMA_ALPHA} * power({1-EWMA_ALPHA}, n - k) * xi
                  / (1 - power({1-EWMA_ALPHA}, n)), 9) AS DECIMAL(18,9))) AS DOUBLE), 6) AS ewma
FROM e GROUP BY event_id, user_id, value
"""


QUERIES = {
    "event_value_ewma": (event_value_ewma, EVENT_VALUE_EWMA_SQL),
    "lineitem_active_shipments": (
        lineitem_active_shipments,
        LINEITEM_ACTIVE_SHIPMENTS_SQL,
    ),
    "part_revenue_abc": (part_revenue_abc, PART_REVENUE_ABC_SQL),
    "event_value_rolling_zscore": (
        event_value_rolling_zscore,
        EVENT_VALUE_ROLLING_ZSCORE_SQL,
    ),
    "supplier_part_hhi": (supplier_part_hhi, SUPPLIER_PART_HHI_SQL),
    "asof_purchase_last_click": (asof_purchase_last_click, ASOF_PURCHASE_LAST_CLICK_SQL),
    "event_ohlc_hourly": (event_ohlc_hourly, EVENT_OHLC_HOURLY_SQL),
    "attribution_linear": (attribution_linear, ATTRIBUTION_LINEAR_SQL),
    "time_decayed_user_value": (time_decayed_user_value, TIME_DECAYED_USER_VALUE_SQL),
    "interval_attribution": (interval_attribution, INTERVAL_ATTRIBUTION_SQL),
    "interval_attribution_full": (
        interval_attribution_full,
        INTERVAL_ATTRIBUTION_FULL_SQL,
    ),
    "attributed_revenue_hourly": (
        attributed_revenue_hourly,
        ATTRIBUTED_REVENUE_HOURLY_SQL,
    ),
    "gap_fill_hourly_values": (gap_fill_hourly_values, GAP_FILL_HOURLY_VALUES_SQL),
    "range_join_nearby_events": (range_join_nearby_events, RANGE_JOIN_NEARBY_EVENTS_SQL),
    "top_orders_global": (top_orders_global, TOP_ORDERS_GLOBAL_SQL),
    "string_functions_parts": (string_functions_parts, STRING_FUNCTIONS_PARTS_SQL),
    "cube_order_stats": (cube_order_stats, CUBE_ORDER_STATS_SQL),
    "approx_aggregates": (approx_aggregates, None),  # rows-only (sketches)
    "salted_user_totals": (salted_user_totals, SALTED_USER_TOTALS_SQL),
    "skew_hot_users": (skew_hot_users, SKEW_HOT_USERS_SQL),
    "q1_pricing_summary_sql_api": (q1_pricing_summary_sql_api, Q1_PRICING_SUMMARY_SQL_API_SQL),
    "sql_udf_disc_revenue": (sql_udf_disc_revenue, SQL_UDF_DISC_REVENUE_SQL),
    "datetime_functions_orders": (datetime_functions_orders, DATETIME_FUNCTIONS_ORDERS_SQL),
    "null_handling_customer": (null_handling_customer, NULL_HANDLING_CUSTOMER_SQL),
    "profile_orders": (profile_orders, None),  # rows-only (HLL sketch values)
    "profile_orders_exact": (profile_orders_exact, PROFILE_ORDERS_SQL),
}
