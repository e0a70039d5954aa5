"""Extended analytics operators, wave 3: gaps-and-islands streak
detection, Adamic-Adar link prediction, bounded weighted shortest
paths (Bellman-Ford rounds with exact integer costs), per-nation Gini
concentration, closed-form two-feature OLS via the normal equations,
and lag-1 autocorrelation of a monthly revenue series.

Oracle convention (same as every ``plans/`` module): the DuckDB SQL
restates the identical MATHEMATICAL result with exact arithmetic
wherever a float summation order could differ between engines —
decimal sums, integer division for path costs, per-term 9dp rounding
before any float sum (the BM25 discipline for ``ln``'s ≤1-ulp
cross-engine drift), and a single final double division rounded to
6dp. Where the Spark side uses a smarter physical algorithm (frontier
Bellman-Ford vs the oracle's unrolled relaxation rounds), the rounds
are semantically identical by construction and the unroll is
MATERIALIZED so DuckDB doesn't inline it exponentially.

100 TB posture notes live on each operator; the common theme is that
every window partitions by a high-cardinality key (user_id,
l_orderkey) and every graph join keys on node ids, so no operator
ever concentrates more than one key's rows on one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.batch import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------- gaps-and-islands: per-user activity streaks ----------
#
# The classic sessionization-adjacent shape the window family was
# missing: collapse each user's event history to DISTINCT active days,
# then detect maximal runs of consecutive days with the island trick
# (day_number - row_number is constant within a run and strictly
# monotone across runs — no self-join, no iteration). Per user we
# report the total active days, number of streaks, the longest streak
# and its start date (earliest start wins ties — a deterministic
# argmax via min(struct(-len, start))).
#
# Scale: both windows and the final aggregate partition by user_id, so
# the whole operator is ONE shuffle of a two-column relation; streak
# state never leaves the user's partition. At 100 TB the distinct-days
# pre-collapse is the load-bearing step — it shrinks the window input
# to at most (users × days) rows before any sort.


def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    days = days.withColumn(
        "day_no", F.datediff("d", F.lit("1970-01-01"))
    )
    w = Window.partitionBy("user_id").orderBy("day_no")
    isl = days.withColumn(
        "island", F.col("day_no") - F.row_number().over(w)
    )
    streaks = isl.groupBy("user_id", "island").agg(
        F.count("*").alias("len"),
        F.min("d").alias("start_d"),
    )
    best = F.min(F.struct((-F.col("len")).alias("neg"), "start_d"))
    return (
        streaks.groupBy("user_id")
        .agg(
            F.sum("len").alias("n_active_days"),
            F.count("*").alias("n_streaks"),
            best.alias("b"),
        )
        .select(
            "user_id",
            "n_active_days",
            "n_streaks",
            (-F.col("b.neg")).alias("max_streak_days"),
            F.col("b.start_d").cast("string").alias("max_streak_start"),
        )
    )


USER_ACTIVITY_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), isl AS (
  SELECT user_id, d,
         date_diff('day', DATE '1970-01-01', d)
           - row_number() OVER (PARTITION BY user_id ORDER BY d) AS island
  FROM days
), streaks AS (
  SELECT user_id, island, count(*) AS len, min(d) AS start_d
  FROM isl GROUP BY 1, 2
)
SELECT user_id,
       CAST(sum(len) AS BIGINT) AS n_active_days,
       count(*) AS n_streaks,
       max(len) AS max_streak_days,
       CAST(min(start_d) FILTER (
         WHERE len = (SELECT max(s2.len) FROM streaks s2
                      WHERE s2.user_id = streaks.user_id)
       ) AS VARCHAR) AS max_streak_start
FROM streaks GROUP BY user_id
"""


# ---------- co-purchase graph with a support-2 threshold ----------
#
# The link-prediction / shortest-path graph: co-purchase part pairs
# with support >= 2 (~3.5k edges at sf0.01 AND sf0.1 — the support-3
# graph collapses to almost nothing at sf0.1, and support-1 is the
# dense 1M-edge one the clustering-coefficient family handles).
# Shared by the two operators below; each materializes it through this
# helper so the plan stays a pure function of (spark, sf_dir).


def _support2_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # support-≥2 cut over the session pair-count store (round-12): the
    # store's basket projection carries mining.ORDER_LINE_CAP, which
    # never binds on TPC-H baskets (≤7 distinct parts per order at any
    # sf), so the relation is identical to the old uncapped
    # distinct+self-join — verified by the strict oracles of both
    # consumers at all three sfs.
    from .mining import pair_counts_cached

    return (
        pair_counts_cached(spark, sf_dir)
        .filter(F.col("n_orders") >= 2)
        .select(
            F.col("part1").alias("p1"),
            F.col("part2").alias("p2"),
            F.col("n_orders").alias("support"),
        )
    )


_SUPPORT2_CTE = """
op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
)
"""


# ---------- Adamic-Adar link prediction ----------
#
# Predict missing edges: for every non-adjacent pair (u, w) sharing a
# common neighbor, score = sum over common neighbors z of
# 1 / ln(deg(z)) — frequent co-purchase hubs count less. The top-100
# scored pairs are the "customers who bought these also bought"
# candidate list.
#
# Round-10 redefinition (data-adaptive support): the original
# common_neighbors >= 2 cut goes empty as the support-2 graph thins
# (0 rows at sf0.1 — r9 ledger `empty_pass`), leaving the value path
# uncompared at bench scale. Standard Adamic-Adar has no min-common
# constraint; scoring every wedge-connected non-adjacent pair measures
# 15.6k/13.1k/1.4k scored pairs at sf0.001/0.01/0.1 — non-empty at
# every scale — and the top-100 emission bound is unchanged. The
# deterministic total-order tie-break (score, common_neighbors, u, w)
# matters more now: single-neighbor pairs tie in score en masse.
#
# Plan: undirected adjacency (each edge stored both ways), wedge
# enumeration z: (u,z),(z,w) with u<w — the SAME two-hop self-join
# shape as the clustering coefficient, keyed on the middle node — then
# an anti-join against the existing edge set removes known links.
# deg(z) rides the adjacency relation (computed once, joined by key),
# so the wedge join carries its weight for free. Cross-engine float
# discipline: each neighbor's 1/ln(deg) contribution is rounded to 9dp
# and summed as DECIMAL(18,9) — ln may differ by 1 ulp between JVM and
# DuckDB libm, the 9dp round absorbs it, and the decimal sum is
# order-independent.
#
# Scale: the wedge join keys on z, so a hub z with degree d produces
# d^2 wedges — the support threshold bounds d exactly as it does for
# the triangle family; everything shuffles on node ids, nothing
# collects.

LINKPRED_TOPK = 100


def copurchase_link_prediction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Eagerly materialized: this plan references the edge relation
    # SEVEN times (und×3 via deg/l/r, known×1, each doubling through
    # the union) and exchange reuse does not collapse the copies — the
    # round-11 plan audit counted 32 exchanges, ~25 of them replicas
    # of the lineitem self-join + support aggregate. Checkpointing the
    # thresholded pair relation (tiny by construction) runs the build
    # once; the audit count drops to the ~8 load-bearing exchanges
    # (round-12 verdict task #8).
    edges = (
        _support2_edges(spark, sf_dir)
        .select("p1", "p2")
        .localCheckpoint(eager=True)
    )
    und = edges.union(
        edges.select(F.col("p2").alias("p1"), F.col("p1").alias("p2"))
    )
    deg = und.groupBy(F.col("p1").alias("z")).agg(
        F.count("*").alias("deg")
    )
    adj = und.select(F.col("p1").alias("z"), F.col("p2").alias("n"))
    contrib = F.round(
        F.lit(1.0) / F.log(F.col("deg").cast("double")), 9
    ).cast("decimal(18,9)")
    l, r = adj.alias("l"), adj.alias("r")
    wedges = (
        l.join(r, "z")
        .filter(F.col("l.n") < F.col("r.n"))
        .join(deg, "z")
        .select(
            F.col("l.n").alias("u"),
            F.col("r.n").alias("w"),
            contrib.alias("c"),
        )
    )
    known = edges.select(
        F.col("p1").alias("u"), F.col("p2").alias("w")
    )
    scored = (
        wedges.join(known, ["u", "w"], "left_anti")
        .groupBy("u", "w")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum("c").alias("dec_score"),
        )
        .select(
            "u",
            "w",
            "common_neighbors",
            F.round(F.col("dec_score").cast("double"), 6).alias(
                "aa_score"
            ),
        )
    )
    return scored.orderBy(
        F.desc("aa_score"), F.desc("common_neighbors"), "u", "w"
    ).limit(LINKPRED_TOPK)


COPURCHASE_LINK_PREDICTION_SQL = f"""
WITH {_SUPPORT2_CTE},
und AS (
  SELECT p1, p2 FROM edges UNION ALL SELECT p2, p1 FROM edges
), deg AS (
  SELECT p1 AS z, count(*) AS deg FROM und GROUP BY 1
), wedges AS (
  SELECT l.p2 AS u, r.p2 AS w,
         CAST(round(1.0 / ln(CAST(d.deg AS DOUBLE)), 9)
              AS DECIMAL(18,9)) AS c
  FROM und l JOIN und r ON l.p1 = r.p1 AND l.p2 < r.p2
  JOIN deg d ON d.z = l.p1
), scored AS (
  SELECT u, w, count(*) AS common_neighbors,
         round(CAST(sum(c) AS DOUBLE), 6) AS aa_score
  FROM wedges
  WHERE NOT EXISTS (
    SELECT 1 FROM edges e WHERE e.p1 = wedges.u AND e.p2 = wedges.w
  )
  GROUP BY u, w
)
SELECT u, w, common_neighbors, aa_score
FROM scored
ORDER BY aa_score DESC, common_neighbors DESC, u, w
LIMIT {LINKPRED_TOPK}
"""


# ---------- bounded weighted shortest paths (Bellman-Ford) ----------
#
# Weighted SSSP from a deterministic source set (the 3 smallest node
# ids in the graph) with EXACT integer edge costs: cost = 1000000 DIV
# support (cheaper to traverse a frequently co-purchased pair), so
# path sums are exact BIGINT arithmetic in both engines and no float
# ever enters a comparison. Four relaxation rounds (Bellman-Ford,
# synchronous): dist_{k+1} = min(dist_k, min over edges (u,v) of
# dist_k(u) + cost(u,v)). Per node we report the best (cost, hops)
# struct — the lexicographic min is deterministic even when two paths
# tie on cost.
#
# Spark plan: each round is one join (frontier x adjacency, keyed on
# the node id) + one grouped min — the same fixed-round discipline as
# PageRank; four rounds compose lazily into a single job, and at
# 100 TB each round is one key-partitioned shuffle. The oracle unrolls
# the IDENTICAL four rounds as MATERIALIZED CTEs (the k-core lesson:
# a naive unroll inlines exponentially).

SSSP_ROUNDS = 4
SSSP_SOURCES = 3


def copurchase_weighted_sssp(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    edges = _support2_edges(spark, sf_dir)
    und = edges.select(
        F.col("p1").alias("src"),
        F.col("p2").alias("dst"),
        F.expr("CAST(1000000 DIV support AS BIGINT)").alias("ecost"),
    ).union(
        edges.select(
            F.col("p2").alias("src"),
            F.col("p1").alias("dst"),
            F.expr("CAST(1000000 DIV support AS BIGINT)").alias("ecost"),
        )
    )
    # The adjacency is probed once per relaxation round; without a
    # persist the lazy 4-round unroll RE-AGGREGATES the co-purchase
    # pairs every round (plan audit measured 50 exchanges vs 14 with
    # the persist — at 100 TB that is four redundant fact-table
    # shuffles). Same persist discipline as PageRank / k-core.
    und = und.persist()
    nodes = und.select(F.col("src").alias("node")).distinct()
    sources = nodes.orderBy("node").limit(SSSP_SOURCES)
    dist = sources.select(
        F.col("node"),
        F.lit(0).cast("long").alias("cost"),
        F.lit(0).cast("int").alias("hops"),
    )
    # Each relaxation reads dist TWICE (keep-branch + relax-branch), so
    # a fully lazy unroll doubles the plan tree per round — 2^rounds
    # copies of the seed subtree (the audit measured 511 Exchange nodes
    # in the lazy string). localCheckpoint(eager=False) per round
    # truncates the lineage without forcing a per-round job; the final
    # noop write executes the whole chain once. Same discipline as
    # label propagation (operators/graph.py).
    for _ in range(SSSP_ROUNDS):
        relaxed = dist.join(und, dist.node == und.src).select(
            F.col("dst").alias("node"),
            (F.col("cost") + F.col("ecost")).alias("cost"),
            (F.col("hops") + 1).alias("hops"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min(F.struct("cost", "hops")).alias("b"))
            .select(
                "node",
                F.col("b.cost").alias("cost"),
                F.col("b.hops").alias("hops"),
            )
            .localCheckpoint(eager=False)
        )
    return dist.select("node", "cost", "hops")


# Oracle arg-min: DuckDB mirrors Spark's min(struct(cost, hops)) with
# a window min for the cost and a filtered min for the hops among
# cost-ties — exactly the lexicographic (cost, hops) minimum.


def _sssp_sql_structmin() -> str:
    rounds = []
    prev = "d0"
    for k in range(1, SSSP_ROUNDS + 1):
        rounds.append(
            f"""d{k} AS MATERIALIZED (
  SELECT node, min(cost) AS cost,
         min(hops) FILTER (WHERE cost = mincost) AS hops
  FROM (
    SELECT node, cost, hops, min(cost) OVER (PARTITION BY node) AS mincost
    FROM (
      SELECT node, cost, hops FROM {prev}
      UNION ALL
      SELECT e.dst, p.cost + e.cost, p.hops + 1
      FROM {prev} p JOIN und e ON e.src = p.node
    )
  )
  GROUP BY node
)"""
        )
        prev = f"d{k}"
    joined = ",\n".join(rounds)
    return f"""
WITH {_SUPPORT2_CTE},
und AS MATERIALIZED (
  SELECT p1 AS src, p2 AS dst, 1000000 // support AS cost FROM edges
  UNION ALL
  SELECT p2, p1, 1000000 // support FROM edges
),
d0 AS MATERIALIZED (
  SELECT node, CAST(0 AS BIGINT) AS cost, 0 AS hops
  FROM (SELECT DISTINCT src AS node FROM und ORDER BY node
        LIMIT {SSSP_SOURCES})
),
{joined}
SELECT node, cost, hops FROM {prev}
"""


# ---------- Gini concentration of customer revenue, per nation ----------
#
# How concentrated is order revenue across a nation's customers? Gini
# via the rank formula on ascending-sorted values:
#   G = 2 * sum(i * x_i) / (n * sum(x)) - (n + 1) / n
# with ties broken by customer key so the rank order is total. All
# sums are exact decimals (revenue as DECIMAL(18,2), i * x_i as
# DECIMAL(38,2)); the formula's two divisions happen once, in double,
# rounded to 6dp.
#
# Scale: per-customer revenue is one key-partitioned aggregate; the
# rank window partitions by nation (25 partitions here, but the rank
# input is the ALREADY-AGGREGATED per-customer relation — at 100 TB
# that's |customers| rows, not |orders|, and a per-nation sort of
# aggregated rows is the irreducible cost of an exact rank statistic).
# When even that per-nation sort is too large, the round-9 twin
# analytics_ext8.customer_revenue_gini_binned brackets the exact Gini
# from 256 per-nation revenue bins with no sort at all.


def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "revenue"
            )
        )
        .join(
            F.broadcast(
                c.select("c_custkey", "c_nationkey").join(
                    F.broadcast(n.select("n_nationkey", "n_name")),
                    c.c_nationkey == n.n_nationkey,
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("n_name", "c_custkey", "revenue")
    )
    w = Window.partitionBy("n_name").orderBy("revenue", "c_custkey")
    ranked = rev.withColumn("i", F.row_number().over(w))
    return (
        ranked.groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("revenue").alias("total_rev"),
            F.sum(
                (F.col("i") * F.col("revenue")).cast("decimal(38,2)")
            ).alias("iw"),
        )
        .select(
            "n_name",
            "n_customers",
            F.round(F.col("total_rev").cast("double"), 2).alias(
                "total_revenue"
            ),
            F.round(
                F.lit(2.0)
                * F.col("iw").cast("double")
                / (
                    F.col("n_customers").cast("double")
                    * F.col("total_rev").cast("double")
                )
                - (F.col("n_customers") + 1).cast("double")
                / F.col("n_customers").cast("double"),
                6,
            ).alias("gini"),
        )
    )


CUSTOMER_REVENUE_GINI_SQL = """
WITH rev AS (
  SELECT n.n_name, c.c_custkey,
         sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
), ranked AS (
  SELECT n_name, revenue,
         row_number() OVER (PARTITION BY n_name
                            ORDER BY revenue, c_custkey) AS i
  FROM rev
)
SELECT n_name,
       count(*) AS n_customers,
       round(CAST(sum(revenue) AS DOUBLE), 2) AS total_revenue,
       round(2.0 * CAST(sum(CAST(i * revenue AS DECIMAL(38,2))) AS DOUBLE)
               / (count(*) * CAST(sum(revenue) AS DOUBLE))
             - CAST(count(*) + 1 AS DOUBLE) / count(*),
             6) AS gini
FROM ranked GROUP BY n_name
"""


# ---------- closed-form two-feature OLS via normal equations ----------
#
# Fit extendedprice ~ b0 + b1*quantity + b2*discount per return flag —
# multivariate regression as PURE AGGREGATION (the distributed-ML
# shape: sufficient statistics shrink to O(d^2) per group, the d x d
# solve is closed-form). The 2x2 normal-equation system on centered
# moments:
#   [S11 S12] [b1]   [S1y]      Sij = sum(xi*xj) - n*mi*mj
#   [S12 S22] [b2] = [S2y]
# solved by the explicit determinant inverse; b0 = ybar - b1*m1 -
# b2*m2; R^2 = (b1*S1y + b2*S2y) / Syy. All EIGHT raw moments are
# exact decimal sums (inputs have fixed 2dp scale, so every product
# has bounded scale); the centered algebra runs in double from those
# exact sums — the identical expression in both engines — and rounds
# to 6dp.
#
# Scale: one pass, one key-partitioned aggregate, eight decimal sums;
# no window, no join, no iteration. This is the pattern the PCA Gram
# fold uses, specialized to d = 2 where the solve is a formula.


def lineitem_ols_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    # seven DECIMAL(38) products per row before the aggregate: per-row
    # compute dominates the single-row-group scan, so the scan is
    # widened (sources/batch.py has the A/B)
    l = load_table(spark, sf_dir, "lineitem", scan_wide=True)
    d2 = lambda c: F.col(c).cast("decimal(18,2)")
    x1, x2, y = d2("l_quantity"), d2("l_discount"), d2("l_extendedprice")
    agg = l.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x1).alias("s1"),
        F.sum(x2).alias("s2"),
        F.sum(y).alias("sy"),
        F.sum((x1 * x1).cast("decimal(38,4)")).alias("s11"),
        F.sum((x2 * x2).cast("decimal(38,4)")).alias("s22"),
        F.sum((x1 * x2).cast("decimal(38,4)")).alias("s12"),
        F.sum((x1 * y).cast("decimal(38,4)")).alias("s1y"),
        F.sum((x2 * y).cast("decimal(38,4)")).alias("s2y"),
        F.sum((y * y).cast("decimal(38,4)")).alias("syy"),
    )
    dd = lambda c: F.col(c).cast("double")
    n = dd("n")
    m1, m2, my = dd("s1") / n, dd("s2") / n, dd("sy") / n
    c11 = dd("s11") - n * m1 * m1
    c22 = dd("s22") - n * m2 * m2
    c12 = dd("s12") - n * m1 * m2
    c1y = dd("s1y") - n * m1 * my
    c2y = dd("s2y") - n * m2 * my
    cyy = dd("syy") - n * my * my
    det = c11 * c22 - c12 * c12
    # Degenerate groups (collinear or constant features -> det = 0;
    # constant y -> cyy = 0) must yield NULLs, not an ANSI
    # divide-by-zero job crash — found by the planted-plane hypothesis
    # law with b1 = b2 = 0.
    b1 = F.when(det != 0, (c22 * c1y - c12 * c2y) / det)
    b2 = F.when(det != 0, (c11 * c2y - c12 * c1y) / det)
    b0 = my - b1 * m1 - b2 * m2
    r2 = F.when(cyy > 0, (b1 * c1y + b2 * c2y) / cyy)
    return agg.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        F.round(b0, 6).alias("intercept"),
        F.round(b1, 6).alias("beta_quantity"),
        F.round(b2, 6).alias("beta_discount"),
        F.round(r2, 6).alias("r_squared"),
    )


LINEITEM_OLS_PRICE_SQL = """
WITH agg AS (
  SELECT l_returnflag,
         count(*) AS n,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS s1,
         sum(CAST(l_discount AS DECIMAL(18,2))) AS s2,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
         sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS s11,
         sum(CAST(CAST(l_discount AS DECIMAL(18,2))
                  * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS s22,
         sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS s12,
         sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS s1y,
         sum(CAST(CAST(l_discount AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS s2y,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n AS n_rows,
       round(my - b1 * m1 - b2 * m2, 6) AS intercept,
       round(b1, 6) AS beta_quantity,
       round(b2, 6) AS beta_discount,
       round(CASE WHEN cyy > 0 THEN (b1 * c1y + b2 * c2y) / cyy END, 6)
         AS r_squared
FROM (
  SELECT l_returnflag, n, m1, m2, my, c1y, c2y, cyy,
         CASE WHEN c11 * c22 - c12 * c12 != 0
              THEN (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12)
         END AS b1,
         CASE WHEN c11 * c22 - c12 * c12 != 0
              THEN (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12)
         END AS b2
  FROM (
    SELECT l_returnflag, n, m1, m2, my,
           CAST(s11 AS DOUBLE) - CAST(n AS DOUBLE) * m1 * m1 AS c11,
           CAST(s22 AS DOUBLE) - CAST(n AS DOUBLE) * m2 * m2 AS c22,
           CAST(s12 AS DOUBLE) - CAST(n AS DOUBLE) * m1 * m2 AS c12,
           CAST(s1y AS DOUBLE) - CAST(n AS DOUBLE) * m1 * my AS c1y,
           CAST(s2y AS DOUBLE) - CAST(n AS DOUBLE) * m2 * my AS c2y,
           CAST(syy AS DOUBLE) - CAST(n AS DOUBLE) * my * my AS cyy
    FROM (
      SELECT l_returnflag, n, s11, s22, s12, s1y, s2y, syy,
             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
             CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2,
             CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my
      FROM agg
    )
  )
)
"""


# ---------- lag-1 autocorrelation of monthly nation revenue ----------
#
# Per nation: build the monthly revenue series (exact decimal monthly
# sums), then the lag-1 Pearson autocorrelation over consecutive-month
# pairs via a self-join on month+1 — the seasonality-strength
# diagnostic next to ``orders_seasonal_index``'s seasonal factors.
# Pair moments are computed from the exact decimal monthly totals;
# the Pearson formula runs once in double and rounds to 6dp. Nations
# whose series has fewer than 3 consecutive pairs or zero variance on
# either side return NULL (guarded identically in both engines).
#
# Scale: the series is |nations x months| rows AFTER one aggregate of
# the fact table — the self-join and the correlation are free at any
# scale; the only real shuffle is the monthly rollup.


def nation_monthly_autocorr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    monthly = (
        o.join(
            F.broadcast(
                c.select("c_custkey", "c_nationkey").join(
                    F.broadcast(n.select("n_nationkey", "n_name")),
                    F.col("c_nationkey") == F.col("n_nationkey"),
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            "n_name",
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
            ).alias("mo"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "rev"
            )
        )
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    pairs = a.join(
        b,
        (F.col("a.n_name") == F.col("b.n_name"))
        & (F.col("b.mo") == F.col("a.mo") + 1),
    ).select(
        F.col("a.n_name").alias("n_name"),
        F.col("a.rev").alias("x"),
        F.col("b.rev").alias("y"),
    )
    dd = lambda c: F.col(c).cast("double")
    agg = pairs.groupBy("n_name").agg(
        F.count("*").alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,4)")).alias(
            "sxx"
        ),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,4)")).alias(
            "syy"
        ),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,4)")).alias(
            "sxy"
        ),
    )
    np_ = dd("n_pairs")
    cov = dd("sxy") - dd("sx") * dd("sy") / np_
    vx = dd("sxx") - dd("sx") * dd("sx") / np_
    vy = dd("syy") - dd("sy") * dd("sy") / np_
    r = F.when(
        (F.col("n_pairs") >= 3) & (vx > 0) & (vy > 0),
        F.round(cov / F.sqrt(vx * vy), 6),
    )
    return agg.select(
        "n_name", "n_pairs", r.alias("lag1_autocorr")
    )


NATION_MONTHLY_AUTOCORR_SQL = """
WITH monthly AS (
  SELECT n.n_name,
         year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1 AS mo,
         sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
), pairs AS (
  SELECT a.n_name, a.rev AS x, b.rev AS y
  FROM monthly a JOIN monthly b
    ON a.n_name = b.n_name AND b.mo = a.mo + 1
), agg AS (
  SELECT n_name, count(*) AS n_pairs,
         sum(x) AS sx, sum(y) AS sy,
         sum(CAST(x * x AS DECIMAL(38,4))) AS sxx,
         sum(CAST(y * y AS DECIMAL(38,4))) AS syy,
         sum(CAST(x * y AS DECIMAL(38,4))) AS sxy
  FROM pairs GROUP BY 1
)
SELECT n_name, n_pairs,
       CASE WHEN n_pairs >= 3
                 AND CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n_pairs > 0
                 AND CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n_pairs > 0
            THEN round(
              (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n_pairs)
              / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n_pairs)
                   * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n_pairs)),
              6)
       END AS lag1_autocorr
FROM agg
"""


# ---------- Adamic-Adar on the kNN family graph (dense fixture) ----------
#
# copurchase_link_prediction passes with 0 rows at sf0.1 (support-2
# raw-part graph thins; r7 empty_pass audit). A fixed coarser node
# space doesn't fix it: a dense family graph SATURATES at the small
# sfs (complete graph ⇒ no non-adjacent pairs), measured directly
# during round 8. The scale-stable construction is a kNN graph: per
# node keep the top-KNN_K co-purchase neighbors by support (ties →
# smaller neighbor id), symmetrize, then run the identical Adamic-Adar
# wedge plan. Average degree is pinned ≈KNN_K at EVERY scale factor,
# so non-adjacent wedge pairs exist at all three sfs (168 / 1785 /
# 5583 candidates measured) — and the per-node window partitions on
# the node id, no global funnel. Strict oracle end to end.

KNN_K = 8


def copurchase_knn_link_prediction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .mining import family_pair_counts_cached

    sup = family_pair_counts_cached(spark, sf_dir).select(
        F.col("fam1").alias("p1"),
        F.col("fam2").alias("p2"),
        F.col("n_pair").alias("support"),
    )
    sym = sup.unionByName(
        sup.select(
            F.col("p2").alias("p1"),
            F.col("p1").alias("p2"),
            "support",
        )
    )
    w_knn = Window.partitionBy("p1").orderBy(
        F.col("support").desc(), F.col("p2").asc()
    )
    # the edge relation is tiny by construction (≤ KNN_K rows per node,
    # 2 longs wide) and referenced FIVE times downstream (und twice,
    # deg, adj, known) — eager localCheckpoint so the support+window
    # pipeline executes once instead of being re-inlined per reference
    edges = (
        sym.withColumn("r", F.row_number().over(w_knn))
        .filter(F.col("r") <= KNN_K)
        .select(
            F.least("p1", "p2").alias("p1"),
            F.greatest("p1", "p2").alias("p2"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    und = edges.union(
        edges.select(F.col("p2").alias("p1"), F.col("p1").alias("p2"))
    )
    deg = und.groupBy(F.col("p1").alias("z")).agg(
        F.count("*").alias("deg")
    )
    adj = und.select(F.col("p1").alias("z"), F.col("p2").alias("n"))
    contrib = F.round(
        F.lit(1.0) / F.log(F.col("deg").cast("double")), 9
    ).cast("decimal(18,9)")
    l, r = adj.alias("l"), adj.alias("r")
    wedges = (
        l.join(r, "z")
        .filter(F.col("l.n") < F.col("r.n"))
        .join(deg, "z")
        .select(
            F.col("l.n").alias("u"),
            F.col("r.n").alias("w"),
            contrib.alias("c"),
        )
    )
    known = edges.select(
        F.col("p1").alias("u"), F.col("p2").alias("w")
    )
    scored = (
        wedges.join(known, ["u", "w"], "left_anti")
        .groupBy("u", "w")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum("c").alias("dec_score"),
        )
        .filter(F.col("common_neighbors") >= 2)
        .select(
            "u",
            "w",
            "common_neighbors",
            F.round(F.col("dec_score").cast("double"), 6).alias(
                "aa_score"
            ),
        )
    )
    return scored.orderBy(
        F.desc("aa_score"), F.desc("common_neighbors"), "u", "w"
    ).limit(LINKPRED_TOPK)


def _knn_linkpred_sql() -> str:
    from .mining import _FAMILY_OP_CTE

    return f"""
WITH {_FAMILY_OP_CTE},
sup AS (
  SELECT a.fam AS p1, b.fam AS p2, count(*) AS support
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.fam < b.fam
  GROUP BY 1, 2
),
sym AS (
  SELECT p1, p2, support FROM sup
  UNION ALL SELECT p2, p1, support FROM sup
),
edges AS (
  SELECT DISTINCT least(p1, p2) AS p1, greatest(p1, p2) AS p2 FROM (
    SELECT p1, p2,
           row_number() OVER (PARTITION BY p1
                              ORDER BY support DESC, p2 ASC) AS r
    FROM sym) WHERE r <= {KNN_K}
),
und AS (
  SELECT p1, p2 FROM edges UNION ALL SELECT p2, p1 FROM edges
), deg AS (
  SELECT p1 AS z, count(*) AS deg FROM und GROUP BY 1
), wedges AS (
  SELECT l.p2 AS u, r.p2 AS w,
         CAST(round(1.0 / ln(CAST(d.deg AS DOUBLE)), 9)
              AS DECIMAL(18,9)) AS c
  FROM und l JOIN und r ON l.p1 = r.p1 AND l.p2 < r.p2
  JOIN deg d ON d.z = l.p1
), scored AS (
  SELECT u, w, count(*) AS common_neighbors,
         round(CAST(sum(c) AS DOUBLE), 6) AS aa_score
  FROM wedges
  WHERE NOT EXISTS (
    SELECT 1 FROM edges e WHERE e.p1 = wedges.u AND e.p2 = wedges.w
  )
  GROUP BY u, w HAVING count(*) >= 2
)
SELECT u, w, common_neighbors, aa_score
FROM scored
ORDER BY aa_score DESC, common_neighbors DESC, u, w
LIMIT {LINKPRED_TOPK}
"""


QUERIES = {
    "user_activity_streaks": (
        user_activity_streaks,
        USER_ACTIVITY_STREAKS_SQL,
    ),
    "copurchase_link_prediction": (
        copurchase_link_prediction,
        COPURCHASE_LINK_PREDICTION_SQL,
    ),
    "copurchase_knn_link_prediction": (
        copurchase_knn_link_prediction,
        _knn_linkpred_sql(),
    ),
    "copurchase_weighted_sssp": (
        copurchase_weighted_sssp,
        _sssp_sql_structmin(),
    ),
    "customer_revenue_gini": (
        customer_revenue_gini,
        CUSTOMER_REVENUE_GINI_SQL,
    ),
    "lineitem_ols_price": (lineitem_ols_price, LINEITEM_OLS_PRICE_SQL),
    "nation_monthly_autocorr": (
        nation_monthly_autocorr,
        NATION_MONTHLY_AUTOCORR_SQL,
    ),
}
