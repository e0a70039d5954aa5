"""Analytics / data-mining queries: year-over-year trends, market-basket
co-occurrence, graph triangle statistics, and event funnels.

These are the OLAP shapes a warehouse team runs daily on top of the
relational core — each one stresses a distinct physical pattern:
windowed self-comparison without a self-join (YoY), bounded quadratic
expansion within a group (co-purchase), multi-way self-join with
orientation pruning (triangles), and per-key sequence alignment
(funnel). Oracle convention as elsewhere: identical math restated for
DuckDB, decimal sums for bit-stable totals, total tie-break orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.batch import load_table
from ..stores import session_store

DEC = "decimal(18,2)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------- year-over-year revenue per nation ----------
#
# The trend-report shape: aggregate to (nation, year), then compare each
# year against the key's previous year with lag() — one shuffle for the
# agg, one tiny window over ~|nations|×|years| rows. The naive
# formulation (self-join on year-1) doubles the scan; the window version
# reads once. 100 TB note: the agg output is KB-sized regardless of fact
# size, so the window stage is free.

def yoy_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    yearly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("yr"))
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"))
    )
    w = Window.partitionBy("nation").orderBy("yr")
    return yearly.select(
        "nation",
        F.col("yr").cast("long").alias("yr"),
        "revenue",
        F.round(
            F.col("revenue") / F.lag("revenue").over(w) - 1.0, 6
        ).alias("yoy_growth"),
    )


YOY_NATION_REVENUE_SQL = """
WITH yearly AS (
  SELECT n_name AS nation,
         CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT nation, yr, revenue,
       round(revenue / lag(revenue) OVER (PARTITION BY nation ORDER BY yr) - 1.0, 6) AS yoy_growth
FROM yearly
"""


# ---------- market-basket co-purchase pairs ----------
#
# Frequent-pair mining: parts bought together in one order. The
# expansion is quadratic ONLY within an order (≈4 lines ⇒ ≈6 pairs), so
# the self-join on l_orderkey is linear-ish in practice; distinct-ing
# parts per order first stops duplicate lines from inflating counts.
# Scale: both sides shuffle on l_orderkey (co-partitioned self-join —
# one exchange, reused), the pair aggregate shuffles on the pair key.
# Skew guard: ``_order_parts`` caps lines per order BEFORE the join —
# see its docstring.

# Per-order distinct-part cap for the basket self-joins. TPC-H orders
# hold ≤7 lineitems, so every committed fixture is far under the cap
# and the capped projection is EXACT there (oracles unchanged); the cap
# exists for the 100 TB posture, where one pathological hot order with
# L lines would otherwise expand to L² pairs inside a single shuffle
# partition (L=100k → 10¹⁰ rows from one key). 64 keeps the worst
# per-order expansion at 64²=4096 pairs — skew-immune by construction.
ORDER_LINE_CAP = 64


def _order_parts(
    spark: SparkSession, sf_dir: str, cap: int = ORDER_LINE_CAP
) -> DataFrame:
    """Shared basket projection: distinct (l_orderkey, l_partkey) with
    at most ``cap`` parts per order (the cap smallest partkeys —
    deterministic, so all five co-purchase queries see the SAME
    truncation). One exchange on l_orderkey: collect_set does the
    per-order dedup with map-side partial aggregation, the slice
    truncates BEFORE explode so a hot order's row never rematerializes,
    and the exploded output keeps hash(l_orderkey) partitioning — the
    downstream self-join co-partitions with no further shuffle, exactly
    like the uncapped ``.distinct()`` it replaces."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_orderkey")
        .agg(
            F.slice(
                F.sort_array(F.collect_set("l_partkey")), 1, cap
            ).alias("parts")
        )
        .select("l_orderkey", F.explode("parts").alias("l_partkey"))
    )


# ---------- session-scoped co-purchase stores (round-12 optimization) ----------
#
# Fourteen registry queries derive from the SAME two upstream
# artifacts: the distinct (l_orderkey, l_partkey) basket projection and
# the co-occurrence pair counts it induces (only the support THRESHOLD
# differs per consumer: ≥3 for the part graph, ≥2 for k-core /
# set-similarity / item-cosine, unthresholded for the kNN graph). In
# production both are written once at ingest; here the session store +
# eager localCheckpoint gives the same write-once economics (guide §2.4
# — remove shuffles outright: the lineitem scan, basket aggregate, and
# pair self-join+aggregate run once per session instead of once per
# query). The checkpoint is non-reliable by design and must not
# outlive its SparkContext, which the store's session key guarantees.

@session_store
def order_parts_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped ``_order_parts`` (distinct capped basket
    projection) — the shared scan+aggregate of every co-purchase plan."""
    return _order_parts(spark, sf_dir).localCheckpoint(eager=True)


@session_store
def pair_counts_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped UNTHRESHOLDED co-occurrence counts
    (part1 < part2, n_orders): consumers apply their own support cut as
    a trivial filter over this leaf. The relation is pair-aggregate
    small (bounded by sum of per-order C(min(lines,cap),2), ~1M rows at
    sf0.1) and 3 longs wide."""
    op = order_parts_cached(spark, sf_dir)
    a, b = op.alias("a"), op.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("part1"),
            F.col("b.l_partkey").alias("part2"),
        )
        .agg(F.count("*").alias("n_orders"))
        .localCheckpoint(eager=True)
    )


@session_store
def family_orders_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped ``_family_orders`` (distinct (order, family))."""
    return _family_orders(spark, sf_dir).localCheckpoint(eager=True)


@session_store
def family_pair_counts_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped UNTHRESHOLDED family co-occurrence counts
    (fam1 < fam2, n_pair) — shared by the family-granularity Apriori
    and kNN-graph queries."""
    op = family_orders_cached(spark, sf_dir)
    a, b = op.alias("a"), op.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.fam") < F.col("b.fam"))
        .groupBy(
            F.col("a.fam").alias("fam1"),
            F.col("b.fam").alias("fam2"),
        )
        .agg(F.count("*").alias("n_pair"))
        .localCheckpoint(eager=True)
    )


def copurchase_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # support-≥3 cut over the shared unthresholded pair-count store —
    # same aggregate the inline self-join produced, computed once per
    # session (round-12; results identical by construction)
    return pair_counts_cached(spark, sf_dir).filter(
        F.col("n_orders") >= 3
    )


COPURCHASE_PART_PAIRS_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part1, b.l_partkey AS part2, count(*) AS n_orders
FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= 3
"""


def copurchase_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the co-purchase part
    graph: coeff(v) = 2·triangles(v) / (deg(v)·(deg(v)−1)) — how
    clique-like each part's neighborhood is (assortment tightness),
    complementing the global triangle/wedge ratio of
    ``dedup_triangle_stats``.

    Plan: DEGREE-ORDERED triangle enumeration — edges oriented from the
    (deg, id)-smaller endpoint to the larger, wedges enumerated only at
    each triangle's smallest corner, closure checked with one equi-join
    (orientation is a total order, so the closing edge is stored
    exactly as (a, b)), then each found triangle credits its three
    corners via explode. This is O(m^1.5) instead of the naive
    node-iterator's O(Σ deg²): the r6 10× scale probe measured the
    naive wedge join at 8.5× wall at 10× rows (denser graph → quadratic
    wedge blowup at the hubs); orientation makes it ~2×. Division
    guarded for deg==1 (ANSI mode makes x/0 an error, not NULL)."""
    # p is referenced by sym (×2), the orientation join, and the
    # closure join — each reference is now a trivial filter over the
    # session pair-count store's checkpoint leaf (no persist needed).
    p = copurchase_part_pairs(spark, sf_dir).select("part1", "part2")
    sym = p.union(
        p.select(F.col("part2").alias("part1"), F.col("part1").alias("part2"))
    )
    deg = sym.groupBy(F.col("part1").alias("v")).agg(F.count("*").alias("deg"))
    d1 = deg.select(F.col("v").alias("part1"), F.col("deg").alias("deg1"))
    d2 = deg.select(F.col("v").alias("part2"), F.col("deg").alias("deg2"))
    k1 = F.struct(F.col("deg1").alias("d"), F.col("part1").alias("n"))
    k2 = F.struct(F.col("deg2").alias("d"), F.col("part2").alias("n"))
    ed = (
        p.join(F.broadcast(d1), "part1")
        .join(F.broadcast(d2), "part2")
        .select(
            F.when(k1 < k2, F.col("part1")).otherwise(F.col("part2")).alias("src"),
            F.when(k1 < k2, F.col("part2")).otherwise(F.col("part1")).alias("dst"),
            F.when(k1 < k2, k2).otherwise(k1).alias("dk"),
        )
        .persist()  # read by both wedge sides and the closure join
    )
    x, y = ed.alias("x"), ed.alias("y")
    wedges = x.join(
        y,
        (F.col("x.src") == F.col("y.src")) & (F.col("x.dk") < F.col("y.dk")),
    ).select(
        F.col("x.src").alias("c"),
        F.col("x.dst").alias("a"),
        F.col("y.dst").alias("b"),
    )
    triangles = wedges.join(
        ed.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"],
    )
    tri = (
        triangles.select(F.explode(F.array("c", "a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("n_tri"))
    )
    n_tri = F.coalesce(F.col("n_tri"), F.lit(0))
    return (
        deg.join(tri, "v", "left")
        .select(
            F.col("v").alias("part"),
            F.col("deg").cast("long").alias("deg"),
            n_tri.cast("long").alias("n_triangles"),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    n_tri * 2.0 / (F.col("deg") * (F.col("deg") - 1)), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


COPURCHASE_CLUSTERING_COEFF_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part1, b.l_partkey AS part2
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 3
),
sym AS (
  SELECT part1 AS v, part2 AS n FROM pairs
  UNION ALL SELECT part2, part1 FROM pairs
),
deg AS (SELECT v, count(*) AS deg FROM sym GROUP BY 1),
tri AS (
  SELECT w.v, count(*) AS n_tri
  FROM (SELECT s1.v, s1.n AS a, s2.n AS b
        FROM sym s1 JOIN sym s2 ON s1.v = s2.v AND s1.n < s2.n) w
  JOIN pairs p ON w.a = p.part1 AND w.b = p.part2
  GROUP BY 1
)
SELECT d.v AS part,
       CAST(d.deg AS BIGINT) AS deg,
       CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.deg >= 2
            THEN round(coalesce(t.n_tri, 0) * 2.0 / (d.deg * (d.deg - 1)), 6)
            ELSE 0.0 END AS clustering_coeff
FROM deg d LEFT JOIN tri t ON d.v = t.v
"""


# ---------- Apriori level-3: frequent triples ----------
#
# Classic frequent-itemset mining one level up: 3-itemsets are counted
# by extending only the FREQUENT pairs (Apriori pruning — an infrequent
# pair can never be inside a frequent triple), so the candidate space
# is the frequent-pair relation × per-order items, not the cubic
# all-triples expansion. At 100 TB this pruning is the difference
# between a tractable join and an explosion: |frequent pairs| is tiny
# after the support threshold, and the extension join co-partitions on
# l_orderkey like the pair build.

def copurchase_part_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    op = order_parts_cached(spark, sf_dir)
    a = op.alias("a")
    b = op.alias("b")
    # candidate pairs WITH the order id retained (support filter after
    # the triple count, not before: pair support ≥ triple support, so
    # filtering pairs at the same threshold first is exact Apriori);
    # the frequent-pair prune reads the session pair-count store
    freq_pairs = (
        pair_counts_cached(spark, sf_dir)
        .filter(F.col("n_orders") >= 2)
        .select("part1", "part2")
    )
    pair_orders = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            "l_orderkey",
            F.col("a.l_partkey").alias("part1"),
            F.col("b.l_partkey").alias("part2"),
        )
        .join(freq_pairs, ["part1", "part2"])  # Apriori prune
    )
    c = op.alias("c")
    # Round-10 redefinition (data-adaptive support): the support-2
    # TRIPLE cut goes empty as the raw-part space thins (0 rows at
    # sf0.1 — r9 ledger `empty_pass` — so the value path was
    # uncompared at bench scale). The relation that stays meaningful
    # at every density is the Apriori CANDIDATE set: triple extensions
    # of support-2 pairs with their observed support (measured
    # 6.8k/9.0k/9.4k rows at sf0.001/0.01/0.1 — non-empty, bounded,
    # and the frequent-pair prune still does all the scale work).
    # The support-2 triple cut is a trivial downstream filter,
    # exercised at family granularity by copurchase_family_triples.
    return (
        pair_orders.join(c, "l_orderkey")
        .filter(F.col("c.l_partkey") > F.col("part2"))
        .groupBy("part1", "part2", F.col("c.l_partkey").alias("part3"))
        .agg(F.count("*").alias("n_orders"))
    )


COPURCHASE_PART_TRIPLES_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
po AS (
  SELECT a.l_orderkey, a.l_partkey AS part1, b.l_partkey AS part2
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
freq AS (
  SELECT part1, part2 FROM po GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT po.part1, po.part2, c.l_partkey AS part3, count(*) AS n_orders
FROM po
JOIN freq USING (part1, part2)
JOIN op c ON c.l_orderkey = po.l_orderkey AND c.l_partkey > po.part2
GROUP BY 1, 2, 3
"""


# ---------- frequent triples, part-FAMILY graph (dense fixture) ----------
#
# copurchase_part_triples passes with 0 rows at sf0.1 (the support-2
# raw-part graph thins as the part space grows — adjudicated in the
# r7 empty_pass audit), which leaves its VALUE path uncompared at the
# bench scale factor. This variant keeps the identical Apriori plan but
# coarsens the node space to part FAMILIES — l_partkey modulo
# max(1, ⌊|part|/8⌋), a data-adaptive modulus that multiplies pair
# density ~64× while still scaling the node count with the data — so
# the support-2 triple relation is non-empty (and small: hundreds to
# tens of thousands of rows) at every scale factor. Strict oracle at
# all three sfs by construction; the raw-part variant remains the
# production-granularity twin.

TRIPLES_FAMILY_DIV = 8


def _family_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    # the modulus is ONE scalar from a dimension count — resolve it
    # driver-side (a metadata-cheap action) instead of cross-joining a
    # 1-row relation: the family relation is referenced three times by
    # the triple plan (and five by the kNN graph), and each reference
    # would re-print the crossJoin subtree into the physical plan
    nfam = max(1, int(p.count()) // TRIPLES_FAMILY_DIV)
    return l.select(
        "l_orderkey",
        (F.col("l_partkey") % F.lit(nfam)).alias("fam"),
    ).distinct()


_FAMILY_OP_CTE = f"""
nf AS (
  SELECT CAST(greatest(1, floor(count(*) / {float(TRIPLES_FAMILY_DIV)})) AS BIGINT) AS nfam
  FROM part
),
op AS (
  SELECT DISTINCT l_orderkey, l_partkey % (SELECT nfam FROM nf) AS fam
  FROM lineitem
)
"""


def copurchase_family_triples(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    op = family_orders_cached(spark, sf_dir)
    a = op.alias("a")
    b = op.alias("b")
    freq_pairs = (
        family_pair_counts_cached(spark, sf_dir)
        .filter(F.col("n_pair") >= 2)
        .select("fam1", "fam2")
    )
    pair_orders = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.fam") < F.col("b.fam"))
        .select(
            "l_orderkey",
            F.col("a.fam").alias("fam1"),
            F.col("b.fam").alias("fam2"),
        )
        .join(freq_pairs, ["fam1", "fam2"])
    )
    c = op.alias("c")
    return (
        pair_orders.join(c, "l_orderkey")
        .filter(F.col("c.fam") > F.col("fam2"))
        .groupBy("fam1", "fam2", F.col("c.fam").alias("fam3"))
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


COPURCHASE_FAMILY_TRIPLES_SQL = f"""
WITH {_FAMILY_OP_CTE},
po AS (
  SELECT a.l_orderkey, a.fam AS fam1, b.fam AS fam2
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.fam < b.fam
),
freq AS (
  SELECT fam1, fam2 FROM po GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT po.fam1, po.fam2, c.fam AS fam3, count(*) AS n_orders
FROM po
JOIN freq USING (fam1, fam2)
JOIN op c ON c.l_orderkey = po.l_orderkey AND c.fam > po.fam2
GROUP BY 1, 2, 3
HAVING count(*) >= 2
"""


# ---------- triangle statistics on the near-dup pair graph ----------
#
# Near-dup candidate pairs form a graph whose triangle density says how
# clique-like the duplicate clusters are (validates the "dup clusters
# are dense" assumption connected components relies on). Orientation
# pruning (a<b<c) counts each triangle exactly once and cuts the join
# fan-out; degrees come from one aggregate over the symmetrized edges.

def dedup_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .training_data import jaccard_pairs_cached

    # jaccard_pairs_cached is session-memoized AND persisted, so its
    # count is free; size the join parallelism from it instead of
    # inheriting shuffle.partitions — a triple self-join of a tiny pair
    # relation across 32-way shuffles is pure stage-scheduling overhead
    # (measured 1.3s vs 0.5s at sf0.1's 258 pairs), while at corpus
    # scale the same formula fans back out (~100k pairs/partition).
    cached = jaccard_pairs_cached(spark, sf_dir)
    n_pairs = int(cached.count())
    n_parts = max(1, n_pairs // 100_000)
    pairs = cached.select("id1", "id2").coalesce(n_parts)
    p1 = pairs.alias("p1")
    # Broadcast the probe sides when the pair relation is provably
    # small (the count above is free): the triple self-join becomes two
    # BroadcastHashJoins with ZERO shuffles instead of ~6 tiny 32-way
    # exchanges whose stage scheduling dwarfs the data (0.9s → 0.4s at
    # 258 pairs). Above the threshold the distributed form returns.
    small = n_pairs <= 1_000_000
    p2 = (F.broadcast(pairs) if small else pairs).alias("p2")
    p3 = (F.broadcast(pairs) if small else pairs).alias("p3")
    tri = (
        p1.join(p2, F.col("p1.id2") == F.col("p2.id1"))
        .join(
            p3,
            (F.col("p3.id1") == F.col("p1.id1"))
            & (F.col("p3.id2") == F.col("p2.id2")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    sym = pairs.select("id1", "id2").union(
        pairs.select(F.col("id2").alias("id1"), F.col("id1").alias("id2"))
    )
    wedges = (
        sym.groupBy("id1")
        .agg(F.count("*").alias("deg"))
        .agg(
            F.sum(F.col("deg") * (F.col("deg") - 1) / 2)
            .cast("long")
            .alias("n_wedges")
        )
    )
    return tri.crossJoin(F.broadcast(wedges)).select(
        "n_triangles",
        "n_wedges",
        F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6).alias(
            "clustering_coef"
        ),
    )


_PAIRS_CTE = """
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id1, id2
  FROM common
  JOIN sizes s1 ON id1 = s1.doc_id
  JOIN sizes s2 ON id2 = s2.doc_id
  WHERE round(n_common / (s1.n_sh + s2.n_sh - n_common), 6) >= 0.5
)
"""


def _triangle_sql() -> str:
    from .training_data import SHINGLES_CTE

    return f"""
WITH {SHINGLES_CTE},
{_PAIRS_CTE},
tri AS (
  SELECT count(*) AS n_triangles
  FROM pairs p1
  JOIN pairs p2 ON p1.id2 = p2.id1
  JOIN pairs p3 ON p3.id1 = p1.id1 AND p3.id2 = p2.id2
),
sym AS (
  SELECT id1, id2 FROM pairs UNION ALL SELECT id2, id1 FROM pairs
),
wedges AS (
  SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges
  FROM (SELECT id1, count(*) AS deg FROM sym GROUP BY id1)
)
SELECT n_triangles, n_wedges,
       round(3.0 * n_triangles / n_wedges, 6) AS clustering_coef
FROM tri, wedges
"""


# ---------- event funnel ----------
#
# Ordered-step conversion: of the users who viewed, how many later
# clicked, and later still purchased? Per-user min timestamps per step,
# then ordered comparison — one aggregate, no joins, no explode. The
# funnel counts collapse to a single row.

def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    return per_user.agg(
        F.count(F.col("t_view")).alias("n_viewed"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias(
            "n_clicked_after_view"
        ),
        F.count(
            F.when(
                (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            )
        ).alias("n_purchased_after_click"),
    )


EVENT_FUNNEL_SQL = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT count(t_view) AS n_viewed,
       count(CASE WHEN t_click > t_view THEN 1 END) AS n_clicked_after_view,
       count(CASE WHEN t_click > t_view AND t_purchase > t_click THEN 1 END) AS n_purchased_after_click
FROM per_user
"""


# ---------- cohort retention ----------
#
# Weekly signup cohorts × activity-week offsets: the retention-matrix
# shape every growth team runs. Two aggregates over the fact stream
# (per-user signup week; distinct user-activity weeks) joined on user —
# both shuffle on user_id, so AQE reuses one exchange; the final matrix
# is |cohorts × offsets| rows, KB-sized at any fact scale.

def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    active = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    cohort_sizes = signup.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("n_cohort")
    )
    matrix = (
        signup.join(active, "user_id")
        .filter(F.col("active_week") >= F.col("cohort_week"))
        .withColumn(
            "week_offset",
            (F.datediff("active_week", "cohort_week") / 7).cast("long"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return matrix.join(cohort_sizes, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "n_cohort",
        F.round(F.col("n_active") / F.col("n_cohort"), 6).alias("retention"),
    )


COHORT_RETENTION_SQL = """
WITH signup AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS active_week FROM events
), cohort_sizes AS (
  SELECT cohort_week, CAST(count(DISTINCT user_id) AS BIGINT) AS n_cohort
  FROM signup GROUP BY cohort_week
), matrix AS (
  SELECT s.cohort_week,
         CAST(date_diff('day', s.cohort_week, a.active_week) / 7 AS BIGINT) AS week_offset,
         CAST(count(DISTINCT s.user_id) AS BIGINT) AS n_active
  FROM signup s JOIN active a ON s.user_id = a.user_id
  WHERE a.active_week >= s.cohort_week
  GROUP BY 1, 2
)
SELECT m.cohort_week, m.week_offset, m.n_active, c.n_cohort,
       round(m.n_active / c.n_cohort, 6) AS retention
FROM matrix m JOIN cohort_sizes c ON m.cohort_week = c.cohort_week
"""


# ---------- count-min sketch ----------
#
# A full CMS pipeline in relational form: build the d×w counter table
# with one groupBy over (hash-row, bucket) pairs, then answer per-key
# frequency estimates with min-over-rows. Engine-portable hashing: the
# bucket id is a 2-hex-char md5 prefix (w=256, same md5-string trick as
# the MinHash family — no hex→int conversion, which DuckDB lacks), so
# DuckDB builds the IDENTICAL sketch and the oracle checks estimates
# exactly, plus the CMS guarantee est ≥ true. Scale: the sketch is d×w
# rows regardless of stream size (broadcastable); the build is one
# map-side-combinable aggregate over d×|stream| narrow rows.

_CMS_D = 4        # hash rows
# w = 256 buckets per row: the two-hex-char md5 prefix


def _cms_bucket(col, seed: int):
    return F.substring(F.md5(F.concat(F.lit(f"s{seed}:"), col)), 1, 2)


def cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    key = F.col("user_id").cast("string")
    pairs = e.select(
        F.posexplode(
            F.array(*[_cms_bucket(key, s) for s in range(_CMS_D)])
        ).alias("row", "bucket")
    )
    sketch = pairs.groupBy("row", "bucket").agg(F.count("*").alias("cnt"))

    truth = e.groupBy("user_id").agg(F.count("*").alias("true_n"))
    probes = truth.select(
        "user_id",
        "true_n",
        F.posexplode(
            F.array(
                *[
                    _cms_bucket(F.col("user_id").cast("string"), s)
                    for s in range(_CMS_D)
                ]
            )
        ).alias("row", "bucket"),
    )
    est = (
        probes.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("user_id", "true_n")
        .agg(F.min("cnt").alias("est_n"))
    )
    return est.select(
        "user_id",
        F.col("true_n").cast("long").alias("true_n"),
        F.col("est_n").cast("long").alias("est_n"),
        (F.col("est_n") >= F.col("true_n")).alias("never_underestimates"),
    )


def _cms_sql() -> str:
    def bucket(src: str, s: int) -> str:
        return f"substr(md5('s{s}:' || CAST({src} AS VARCHAR)), 1, 2)"

    pair_rows = "\n  UNION ALL\n".join(
        f"  SELECT {s} AS row, {bucket('user_id', s)} AS bucket FROM events"
        for s in range(_CMS_D)
    )
    probe_rows = "\n  UNION ALL\n".join(
        f"  SELECT user_id, true_n, {s} AS row, {bucket('user_id', s)} AS bucket FROM truth"
        for s in range(_CMS_D)
    )
    return f"""
WITH pairs AS (
{pair_rows}
),
sketch AS (
  SELECT row, bucket, count(*) AS cnt FROM pairs GROUP BY row, bucket
),
truth AS (
  SELECT user_id, count(*) AS true_n FROM events GROUP BY user_id
),
probes AS (
{probe_rows}
),
est AS (
  SELECT user_id, true_n, min(cnt) AS est_n
  FROM probes JOIN sketch USING (row, bucket)
  GROUP BY user_id, true_n
)
SELECT user_id, CAST(true_n AS BIGINT) AS true_n, CAST(est_n AS BIGINT) AS est_n,
       est_n >= true_n AS never_underestimates
FROM est
"""




# ---------- PageRank on the co-purchase graph ----------
#
# Power iteration entirely in DataFrame ops (operators/graph.py): the
# classic "which products anchor the catalog" centrality over parts
# that co-occur in orders. Fixed 5 iterations keeps it deterministic
# and lets the DuckDB oracle mirror it with an iteration-counter
# recursive CTE. Float note: the per-node contribution sums fold in
# engine-specific order; round(6) absorbs the ~1e-15 reassociation
# noise (values are O(1e-3..1)).

def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    edges = copurchase_part_pairs(spark, sf_dir).select(
        F.col("part1").alias("src"), F.col("part2").alias("dst")
    )
    pr = pagerank(edges, n_iter=5, damping=0.85, undirected=True)
    return pr.select(
        F.col("node").alias("part"), F.round("rank", 6).alias("rank")
    )


COPURCHASE_PAGERANK_SQL = """
WITH RECURSIVE op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS part1, b.l_partkey AS part2
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 3
), edges AS (
  SELECT part1 AS a, part2 AS b FROM pairs
  UNION
  SELECT part2, part1 FROM pairs
), nodes AS (
  SELECT DISTINCT a AS node FROM edges
), deg AS (
  SELECT a, count(*) AS deg FROM edges GROUP BY a
), n_total AS (
  SELECT count(*) AS n FROM nodes
), pr(iter, node, rank) AS (
  SELECT 0, node, 1.0 / (SELECT n FROM n_total) FROM nodes
  UNION ALL
  SELECT p.iter + 1, nd.node,
         (1.0 - 0.85) / (SELECT n FROM n_total)
         + 0.85 * coalesce((
             SELECT sum(p2.rank / d.deg)
             FROM edges e
             JOIN pr p2 ON p2.node = e.a AND p2.iter = p.iter
             JOIN deg d ON d.a = e.a
             WHERE e.b = nd.node
           ), 0.0)
  FROM (SELECT DISTINCT iter FROM pr WHERE iter < 5) p, nodes nd
)
SELECT node AS part, round(rank, 6) AS rank FROM pr WHERE iter = 5
"""


# Directed PageRank with sinks: supplier → nation → region edges form a
# DAG whose region nodes have out-degree 0. Exercises the dangling-mass
# redistribution term (operators/graph.py): each round the sinks' rank
# is summed and spread uniformly, so total mass stays 1 instead of
# leaking ~region-share per iteration. Node ids are offset per layer so
# the three key spaces cannot collide.
def directed_pagerank_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    sup = load_table(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") + 1_000_000).alias("src"),
        (F.col("s_nationkey") + 1_000).alias("dst"),
    )
    nat = load_table(spark, sf_dir, "nation").select(
        (F.col("n_nationkey") + 1_000).alias("src"),
        F.col("n_regionkey").alias("dst"),
    )
    pr = pagerank(sup.union(nat), n_iter=5, damping=0.85, undirected=False)
    return pr.select("node", F.round("rank", 6).alias("rank"))


# Data-dependent recursive CTE (Spark 4 WITH RECURSIVE executes the
# UnionLoop natively): BFS frontier expansion over the directed
# region→nation→supplier DAG from region 0, min hop-distance per
# reached node. Complements recursive_month_spine_orders (constant
# recursion): here the recursive member JOINS a derived edge relation —
# the shape Spark could not express at all before 4.0 and previously
# required the iterative-DataFrame loops in operators/graph.py. The
# graph is acyclic, so the loop terminates at the natural fixpoint (an
# empty frontier) with NO artificial depth guard; per-iteration cost is
# one join against the two small dimension scans. Node ids are offset
# per layer (same scheme as directed_pagerank_sinks) so the key spaces
# cannot collide.
_RECURSIVE_REACH_TEXT = """
WITH RECURSIVE edges AS (
  SELECT n_regionkey AS a, n_nationkey + 1000 AS b FROM nation
  UNION ALL
  SELECT s_nationkey + 1000, s_suppkey + 1000000 FROM supplier
), reach(node, depth) AS (
  SELECT CAST(0 AS BIGINT), 0
  UNION ALL
  SELECT e.b, r.depth + 1
  FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node, CAST(min(depth) AS INTEGER) AS min_depth
FROM reach GROUP BY node
"""


def recursive_supplier_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sql_interface import sql

    return sql(spark, sf_dir, _RECURSIVE_REACH_TEXT)


# identical text runs on DuckDB — engine-portable ANSI recursion
RECURSIVE_SUPPLIER_REACH_SQL = _RECURSIVE_REACH_TEXT


DIRECTED_PAGERANK_SINKS_SQL = """
WITH RECURSIVE edges AS (
  SELECT s_suppkey + 1000000 AS a, s_nationkey + 1000 AS b FROM supplier
  UNION
  SELECT n_nationkey + 1000, n_regionkey FROM nation
), nodes AS (
  SELECT DISTINCT node FROM (
    SELECT a AS node FROM edges UNION SELECT b FROM edges
  )
), deg AS (
  SELECT a, count(*) AS deg FROM edges GROUP BY a
), n_total AS (
  SELECT count(*) AS n FROM nodes
), pr(iter, node, rank) AS (
  SELECT 0, node, 1.0 / (SELECT n FROM n_total) FROM nodes
  UNION ALL
  SELECT p.iter + 1, nd.node,
         (1.0 - 0.85) / (SELECT n FROM n_total)
         + 0.85 * (
             coalesce((
               SELECT sum(p2.rank / d.deg)
               FROM edges e
               JOIN pr p2 ON p2.node = e.a AND p2.iter = p.iter
               JOIN deg d ON d.a = e.a
               WHERE e.b = nd.node
             ), 0.0)
             + (SELECT coalesce(sum(p3.rank), 0.0) FROM pr p3
                WHERE p3.iter = p.iter
                  AND p3.node NOT IN (SELECT a FROM deg))
               / (SELECT n FROM n_total)
           )
  FROM (SELECT DISTINCT iter FROM pr WHERE iter < 5) p, nodes nd
)
SELECT node, round(rank, 6) AS rank FROM pr WHERE iter = 5
"""


# ---------- robust outlier detection (median / MAD) ----------
#
# The anomaly-report shape a pipeline runs on metric streams: per-group
# robust center (median) and spread (MAD), then count points beyond
# k scaled-MADs. Mean/stddev would be poisoned by the outliers being
# hunted; median/MAD have a 50% breakdown point. Physically: two
# grouped exact-percentile aggregations (the second over |v - med|,
# needing one join of the per-group medians back onto the facts — a
# broadcast, since there is one row per group) plus a conditional count.
# At 100 TB swap the exact percentiles for approx_percentile and the
# plan shape is unchanged.

def event_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.percentile("adev", F.lit(0.5)).alias("mad"),
        F.count("*").alias("n"),
    )
    flagged = (
        e.join(F.broadcast(mad.select("event_type", "med", "mad")), "event_type")
        .select(
            "event_type",
            (
                F.abs(F.col("value") - F.col("med"))
                > 3.0 * 1.4826 * F.col("mad")
            ).cast("int").alias("is_out"),
        )
        .groupBy("event_type")
        .agg(F.sum("is_out").alias("n_outliers"))
    )
    return (
        mad.join(flagged, "event_type")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            F.col("n_outliers").cast("long").alias("n_outliers"),
        )
        .orderBy("event_type")
    )


EVENT_VALUE_OUTLIERS_SQL = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (event_type) GROUP BY 1
)
SELECT m.event_type, m.n,
       round(m.med, 6) AS med,
       round(d.mad, 6) AS mad,
       CAST(sum(CASE WHEN abs(e.value - m.med) > 3.0 * 1.4826 * d.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e
JOIN med m USING (event_type)
JOIN mad d USING (event_type)
GROUP BY 1, 2, 3, 4
ORDER BY m.event_type
"""


# ---------- RFM customer segmentation ----------
#
# The classic CRM cut: per customer Recency (days since last order,
# against the corpus' newest order date), Frequency (order count),
# Monetary (total spend), each bucketed into quartiles. Physical shape:
# one grouped agg on o_custkey (the only fact-sized shuffle), the
# global anchor folded as a broadcast 1-row aggregate (no driver
# round-trip), then three ntile windows over the CUSTOMER-sized
# aggregate — KB-to-MB regardless of fact size, so the windows are
# free at 100 TB. Every ntile orders by (metric, custkey): a total
# order, so quartile boundaries are deterministic and engine-portable.
# The global ntile is a SinglePartition window over the CUSTOMER
# aggregate — fine to ~10^8 rows; past that swap exact ntile for
# operators/binning.approx_quantile_bins (percentile_approx edges +
# broadcast bin assignment: no global sort, same 4 buckets up to
# estimation error at the boundaries — implemented and plan-pinned by
# the corpus_curriculum_*_approx queries).

def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count("*").alias("frequency"),
        F.round(F.sum(F.col("o_totalprice").cast(DEC)).cast("double"), 2).alias(
            "monetary"
        ),
    )
    anchor = per_cust.agg(F.max("last_order").alias("anchor"))
    scored = per_cust.crossJoin(F.broadcast(anchor)).select(
        "custkey",
        F.datediff("anchor", "last_order").cast("long").alias("recency_days"),
        "frequency",
        "monetary",
    )
    # Recency: smaller = better → rank 4 (best) gets the most recent.
    r_w = Window.orderBy(F.col("recency_days").desc(), F.col("custkey"))
    f_w = Window.orderBy(F.col("frequency").asc(), F.col("custkey"))
    m_w = Window.orderBy(F.col("monetary").asc(), F.col("custkey"))
    return scored.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4).over(r_w).cast("long").alias("r_score"),
        F.ntile(4).over(f_w).cast("long").alias("f_score"),
        F.ntile(4).over(m_w).cast("long").alias("m_score"),
    )


CUSTOMER_RFM_SEGMENTS_SQL = """
WITH per_cust AS (
  SELECT o_custkey AS custkey,
         max(CAST(o_orderdate AS DATE)) AS last_order,
         count(*) AS frequency,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS monetary
  FROM orders GROUP BY 1
),
anchor AS (SELECT max(last_order) AS anchor FROM per_cust),
scored AS (
  SELECT custkey,
         CAST(date_diff('day', last_order, anchor) AS BIGINT) AS recency_days,
         frequency, monetary
  FROM per_cust CROSS JOIN anchor
)
SELECT custkey, recency_days, frequency, monetary,
       ntile(4) OVER (ORDER BY recency_days DESC, custkey) AS r_score,
       ntile(4) OVER (ORDER BY frequency ASC, custkey) AS f_score,
       ntile(4) OVER (ORDER BY monetary ASC, custkey) AS m_score
FROM scored
"""


# ---------- association rules (confidence / lift) ----------
#
# Directed rules a→b on top of the co-purchase pair counts: confidence
# = P(b|a) = supp(ab)/supp(a); lift = confidence / P(b). Joins the
# (tiny) per-item support relation twice onto the pair relation —
# both AQE-broadcast locally, shuffle-hash at catalog scale. The
# distinct (order, part) projection feeds FOUR consumers (basket
# count, item supports, both self-join sides); without a persist each
# consumer re-scans the fact table — at 100 TB that is 4 extra full
# scans, so the projection is cached once (the same write-once
# economics as the jaccard pair relation; Spark's CacheManager dedups
# the entry across repeated calls by canonicalized plan).

def copurchase_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    op = order_parts_cached(spark, sf_dir)
    n_baskets = op.agg(
        F.count_distinct("l_orderkey").alias("n_baskets")
    )
    item = op.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count("*").alias("supp")
    )
    # ordered (antecedent, consequent) support == unordered pair count
    # mirrored both ways (a ≠ b with per-order-distinct parts), so the
    # ≥3 cut over the session store replaces the a≠b self-join exactly
    pc = pair_counts_cached(spark, sf_dir).filter(F.col("n_orders") >= 3)
    pairs = pc.select(
        F.col("part1").alias("antecedent"),
        F.col("part2").alias("consequent"),
        F.col("n_orders").alias("pair_supp"),
    ).union(
        pc.select(
            F.col("part2").alias("antecedent"),
            F.col("part1").alias("consequent"),
            F.col("n_orders").alias("pair_supp"),
        )
    )
    sa = item.select(F.col("item").alias("antecedent"), F.col("supp").alias("supp_a"))
    sb = item.select(F.col("item").alias("consequent"), F.col("supp").alias("supp_b"))
    conf = F.col("pair_supp") / F.col("supp_a")
    lift = conf * F.col("n_baskets") / F.col("supp_b")
    return (
        pairs.join(sa, "antecedent")
        .join(sb, "consequent")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "antecedent",
            "consequent",
            "pair_supp",
            F.round(conf, 6).alias("confidence"),
            F.round(lift, 6).alias("lift"),
        )
    )


COPURCHASE_RULES_LIFT_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM op),
item AS (SELECT l_partkey AS item, count(*) AS supp FROM op GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS antecedent, b.l_partkey AS consequent,
         count(*) AS pair_supp
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 3
)
SELECT antecedent, consequent, pair_supp,
       round(pair_supp / sa.supp, 6) AS confidence,
       round(pair_supp / sa.supp * n_baskets / sb.supp, 6) AS lift
FROM pairs
JOIN item sa ON antecedent = sa.item
JOIN item sb ON consequent = sb.item
CROSS JOIN n
"""


# ---------- per-group linear regression ----------
#
# Built-in OLS aggregates (regr_slope / regr_intercept / regr_r2):
# per event_type, regress value on hour-of-day to surface intraday
# trends. One grouped aggregate — the regression moments (Σx, Σy,
# Σxy, Σx², n) combine map-side like any algebraic agg, so the
# shuffle carries 5 doubles per group regardless of fact size. The
# closed-form moment math is identical in Spark and DuckDB; round(6)
# absorbs summation-order noise.

def regression_value_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    x = F.hour("ts").cast("double")
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.regr_slope(F.col("value"), x), 6).alias("slope"),
            F.round(F.regr_intercept(F.col("value"), x), 6).alias("intercept"),
            F.round(F.regr_r2(F.col("value"), x), 6).alias("r2"),
        )
    )


REGRESSION_VALUE_BY_HOUR_SQL = """
SELECT event_type,
       count(*) AS n,
       round(regr_slope(value, CAST(hour(ts) AS DOUBLE)), 6) AS slope,
       round(regr_intercept(value, CAST(hour(ts) AS DOUBLE)), 6) AS intercept,
       round(regr_r2(value, CAST(hour(ts) AS DOUBLE)), 6) AS r2
FROM events
GROUP BY 1
"""


def copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the co-purchase part graph
    (5 synchronous rounds, deterministic min-label tie-break). Where
    PageRank ranks parts globally, LP SEGMENTS the graph into baskets
    that co-occur — the community ids feed assortment/mixing decisions.
    Oracle unrolls the identical 5 rounds as generated SQL."""
    from ..operators.graph import label_propagation

    edges = copurchase_part_pairs(spark, sf_dir).select(
        F.col("part1").alias("src"), F.col("part2").alias("dst")
    )
    lp = label_propagation(edges, n_iter=5)
    return lp.select(F.col("node").alias("part"), F.col("label").alias("community"))


def _lp_unrolled_sql(n_iter: int = 5) -> str:
    head = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part1, b.l_partkey AS part2
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 3
),
edges AS (
  SELECT part1 AS a, part2 AS b FROM pairs
  UNION SELECT part2, part1 FROM pairs
),
l0 AS (SELECT DISTINCT a AS node, a AS label FROM edges)"""
    layers = []
    for i in range(1, n_iter + 1):
        layers.append(f"""
c{i} AS (
  SELECT e.b AS node, l.label, count(*) AS cnt
  FROM edges e JOIN l{i-1} l ON e.a = l.node
  GROUP BY 1, 2
),
l{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY cnt DESC, label ASC) AS rn
    FROM c{i}) WHERE rn = 1
)""")
    return (head + "," + ",".join(layers)
            + f"\nSELECT node AS part, label AS community FROM l{n_iter}")


COPURCHASE_COMMUNITIES_SQL = _lp_unrolled_sql(5)


# ---------- distribution drift (PSI) ----------
#
# The monitoring gate a production feed runs between two time windows
# of the same column: bucket both windows on FIXED edges (fixed, not
# quantile-derived, so the reference frame cannot move with the drift
# being measured), smooth with +1/2 counts, and report the population
# stability index sum((p-q) * ln(p/q)). PSI > 0.1 is the standard
# "investigate" line, > 0.25 "act". One grouped count + one per-type
# fold - two small shuffles regardless of fact size.

PSI_EDGES = [10.0, 25.0, 50.0, 100.0, 200.0]


def _psi_bucket(col):
    b = F.lit(len(PSI_EDGES))
    for i, e in enumerate(reversed(PSI_EDGES)):
        b = F.when(F.col(col) < e, F.lit(len(PSI_EDGES) - 1 - i)).otherwise(b)
    return b


def event_value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select("event_type", "value", "ts")
    split_ts = F.lit("2024-01-16").cast("timestamp")
    counts = (
        e.select(
            "event_type",
            _psi_bucket("value").alias("bucket"),
            (F.col("ts") < split_ts).alias("is_ref"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count_if("is_ref").alias("n_ref"),
            F.count_if(~F.col("is_ref")).alias("n_cur"),
        )
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    k = len(PSI_EDGES) + 1
    p = (F.col("n_ref") + 0.5) / (F.col("t_ref") + 0.5 * k)
    q = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 0.5 * k)
    term = (p - q) * (F.log(p) - F.log(q))
    return (
        counts.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("t_ref").alias("n_ref"),
            F.first("t_cur").alias("n_cur"),
            F.round(F.sum(term), 6).alias("psi"),
        )
        .withColumn("drifted", F.col("psi") > 0.1)
    )


def _psi_bucket_sql(col: str) -> str:
    cases = " ".join(
        f"WHEN {col} < {e} THEN {i}" for i, e in enumerate(PSI_EDGES)
    )
    return f"CASE {cases} ELSE {len(PSI_EDGES)} END"


EVENT_VALUE_DRIFT_PSI_SQL = f"""
WITH counts AS (
  SELECT event_type, {_psi_bucket_sql('value')} AS bucket,
         count(*) FILTER (ts < TIMESTAMP '2024-01-16') AS n_ref,
         count(*) FILTER (ts >= TIMESTAMP '2024-01-16') AS n_cur
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, sum(n_ref) AS t_ref, sum(n_cur) AS t_cur
  FROM counts GROUP BY 1
),
terms AS (
  SELECT c.event_type, t.t_ref, t.t_cur,
         ((c.n_ref + 0.5) / (t.t_ref + {0.5 * (len(PSI_EDGES) + 1)})
          - (c.n_cur + 0.5) / (t.t_cur + {0.5 * (len(PSI_EDGES) + 1)}))
         * (ln((c.n_ref + 0.5) / (t.t_ref + {0.5 * (len(PSI_EDGES) + 1)}))
            - ln((c.n_cur + 0.5) / (t.t_cur + {0.5 * (len(PSI_EDGES) + 1)})))
           AS term
  FROM counts c JOIN tot t USING (event_type)
)
SELECT event_type,
       CAST(min(t_ref) AS BIGINT) AS n_ref,
       CAST(min(t_cur) AS BIGINT) AS n_cur,
       round(sum(term), 6) AS psi,
       round(sum(term), 6) > 0.1 AS drifted
FROM terms GROUP BY 1
"""


def event_user_distinct_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-HLL distinct counting (operators/sketches.py): one
    DataSketches HLL per (event_type, month-shard), union-merged to a
    per-type distinct-user estimate — the 100 TB pattern where shards
    materialize sketch columns once and all later distinct questions
    merge sketches instead of rescanning facts.

    The oracle is STRICT despite the sketch being approximate: the
    query emits the exact distinct (for value comparison) plus two
    booleans DuckDB asserts as literal TRUE — ``merge_equals_global``
    (shard-merge ≡ whole-table sketch, the algebraic law, bit-exact at
    fixed lgK) and ``est_within_3pct`` (lgk=14 ⇒ ~0.8% RSE, so 3% is a
    ≳3.7σ accuracy gate on deterministic input)."""
    from ..operators.sketches import distinct_via_sketch_merge

    e = _t(spark, sf_dir, "events").withColumn(
        "shard", F.date_trunc("month", F.col("ts"))
    )
    merged = distinct_via_sketch_merge(
        e, "user_id", ["event_type"], "shard", lgk=14
    )
    global_est = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(14))
        ).alias("global_est")
    )
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("distinct_exact")
    )
    return (
        merged.join(global_est, "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_shards").cast("long").alias("n_shards"),
            F.col("distinct_exact").cast("long").alias("distinct_exact"),
            (F.col("distinct_est") == F.col("global_est")).alias(
                "merge_equals_global"
            ),
            (
                F.abs(F.col("distinct_est") - F.col("distinct_exact"))
                <= 0.03 * F.col("distinct_exact")
            ).alias("est_within_3pct"),
        )
    )


EVENT_USER_DISTINCT_SKETCH_MERGE_SQL = """
SELECT event_type,
       count(*) AS n_rows,
       count(DISTINCT date_trunc('month', ts)) AS n_shards,
       count(DISTINCT user_id) AS distinct_exact,
       TRUE AS merge_equals_global,
       TRUE AS est_within_3pct
FROM events GROUP BY 1
"""


# ---------- k-core of the co-purchase graph ----------
#
# Where the clustering coefficient asks "how clique-like is each
# neighborhood", the k-core asks "which parts survive when weakly
# attached ones are recursively stripped" — the standard dense-subgraph
# screen (Seidman 1983) that feeds assortment-anchor selection. The
# ≥2-order pair threshold (vs the pair query's ≥3) keeps the graph
# dense enough that the 2-core is non-trivial at every shipped scale
# factor; the peel itself converges in ≤6 synchronous rounds on all of
# them (8-round bound = 1.33× headroom, convergence test-asserted; the
# Spark side and the unrolled oracle run the IDENTICAL 8 rounds, so
# they agree exactly even where that reading is wrong).

def copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core membership + within-core degree over the ≥2-order
    co-purchase part graph, via :func:`operators.graph.k_core`
    synchronous peeling. Oracle unrolls the identical rounds."""
    from ..operators.graph import k_core

    pairs = (
        pair_counts_cached(spark, sf_dir)
        .filter(F.col("n_orders") >= 2)
        .select(
            F.col("part1").alias("src"), F.col("part2").alias("dst")
        )
    )
    core = k_core(pairs, k=2, max_rounds=8)
    return core.select(F.col("node").alias("part"), "core_degree")


def _kcore_unrolled_sql(k: int = 2, rounds: int = 8) -> str:
    head = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part1, b.l_partkey AS part2
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
e0 AS MATERIALIZED (
  SELECT part1 AS a, part2 AS b FROM pairs
  UNION ALL SELECT part2, part1 FROM pairs
)"""
    layers = []
    for i in range(1, rounds + 1):
        layers.append(f"""
k{i} AS MATERIALIZED (
  SELECT a FROM (SELECT a, count(*) AS c FROM e{i-1} GROUP BY a) WHERE c >= {k}
),
e{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{i-1} e
  JOIN k{i} x ON e.a = x.a JOIN k{i} y ON e.b = y.a
)""")
    tail = f"""
SELECT a AS part, CAST(count(*) AS BIGINT) AS core_degree
FROM e{rounds} GROUP BY a
"""
    return head + "," + ",".join(layers) + tail


COPURCHASE_KCORE_SQL = _kcore_unrolled_sql()


# ---------- event-type transition matrix ----------
#
# First-order Markov view of user behavior: for each consecutive event
# pair within a user's timeline, count (src_type → dst_type) and
# normalize per source type. One window shuffle on user_id (lead over a
# total order — ties on ts broken by the unique event_id), one pair
# aggregate, and a per-src window over the |types|² matrix, which is
# KB-sized at any fact scale. The probability is a single long÷long
# division — no sum-order float nondeterminism.

def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        e.select("user_id", "event_id", "ts", "event_type")
        .withColumn("dst_type", F.lead("event_type").over(w))
        .filter(F.col("dst_type").isNotNull())
    )
    counts = seq.groupBy(
        F.col("event_type").alias("src_type"), "dst_type"
    ).agg(F.count("*").alias("n"))
    per_src = Window.partitionBy("src_type")
    return counts.select(
        "src_type",
        "dst_type",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("n").cast("double") / F.sum("n").over(per_src).cast("double"), 6
        ).alias("p"),
    )


EVENT_TYPE_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT event_type AS src_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst_type
  FROM events
), c AS (
  SELECT src_type, dst_type, count(*) AS n
  FROM seq WHERE dst_type IS NOT NULL GROUP BY 1, 2
)
SELECT src_type, dst_type, n,
       round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY src_type) AS DOUBLE), 6) AS p
FROM c
"""


# ---------- session path mining (clickstream path frequencies) ----------
#
# The path-analysis shape the transition matrix cannot express: a whole
# ORDERED event sequence per session as one value, counted across
# sessions ("view>click>purchase happened 412 times"). Transitions
# (first-order Markov, above) lose everything beyond adjacent pairs;
# paths keep the full prefix. Sessionization reuses the 30-minute-gap
# definition of sessionize_events (plans/relational.py) so the two
# queries agree on session boundaries.
#
# Order-sensitivity is the crux: collect_list gives NO ordering
# guarantee across partitions/retries, so the path is assembled from
# array_sort over struct(step, event_type) — step is row_number() on
# the total order (ts, event_id), unique within a session, making the
# assembled string deterministic under any physical plan.
#
# Scale: the step<=PATH_MAX_STEPS filter runs BEFORE collect_list, so
# per-group state is bounded at 5 structs regardless of session length
# (a mega-session of 10^6 events contributes 5 rows, not 10^6). Both
# windows and the per-session agg share one hash partitioning on
# user_id (HashPartitioning(user_id) satisfies the clustered
# distribution of the (user_id, session_seq) window and groupBy — no
# second exchange); the final path count is one mergeable groupBy whose
# key domain is |event_types|^5, independent of fact size.

PATH_MAX_STEPS = 5


def user_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w))
    new_session = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    with_sess = e.select("user_id", "event_id", "ts", "event_type").withColumn(
        "session_seq", F.sum(new_session).over(w)
    )
    step_w = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    steps = with_sess.withColumn("step", F.row_number().over(step_w)).filter(
        F.col("step") <= PATH_MAX_STEPS
    )
    paths = steps.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("step", "event_type"))),
                lambda x: x.event_type,
            ),
            ">",
        ).alias("path"),
        F.max("step").alias("path_len"),
    )
    return paths.groupBy("path", "path_len").agg(
        F.count("*").alias("n_sessions")
    )


USER_EVENT_PATHS_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts, 1) OVER w IS NULL
                   OR CAST(floor(epoch(ts)) AS BIGINT)
                      - CAST(floor(epoch(lag(ts, 1) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
), stepped AS (
  SELECT user_id, session_seq, event_type,
         row_number() OVER (PARTITION BY user_id, session_seq
                            ORDER BY ts, event_id) AS step
  FROM sessions
), paths AS (
  SELECT user_id, session_seq,
         string_agg(event_type, '>' ORDER BY step) AS path,
         CAST(max(step) AS INT) AS path_len
  FROM stepped WHERE step <= 5 GROUP BY user_id, session_seq
)
SELECT path, path_len, count(*) AS n_sessions
FROM paths GROUP BY path, path_len
"""


# ---------- item-item cosine similarity (co-purchase CF) ----------
#
# The classic neighborhood recommender: over binary order-baskets,
# cosine(i,j) = cooc(i,j) / sqrt(n_i·n_j) — co-occurrence normalized by
# each item's basket frequency, so ubiquitous items stop dominating the
# raw pair counts (the lift/confidence queries' blind spot). Top-5
# neighbors per item, symmetric.
#
# Scale: the pair expansion is the same bounded per-order quadratic as
# copurchase_part_pairs (one co-partitioned self-join on l_orderkey);
# the per-item totals aggregate is |parts| rows and BROADCASTS into the
# pair relation twice; the top-k is a WindowGroupLimit heap per item,
# not a global sort. cosine is one int÷sqrt(int·int) double op — no
# sum-order nondeterminism; ties broken by neighbor id.

def copurchase_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    op = order_parts_cached(spark, sf_dir)
    # both orientations of the symmetric union below read the session
    # pair-count store's checkpoint leaf — the basket self-join runs
    # once per session, not once per orientation (the old .persist()
    # is subsumed by the store)
    cooc = (
        pair_counts_cached(spark, sf_dir)
        .filter(F.col("n_orders") >= 2)
        .select(
            F.col("part1").alias("p1"),
            F.col("part2").alias("p2"),
            F.col("n_orders").alias("cooc"),
        )
    )
    totals = op.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count("*").alias("n")
    )
    sym = cooc.select("p1", "p2", "cooc").union(
        cooc.select(
            F.col("p2").alias("p1"), F.col("p1").alias("p2"), "cooc"
        )
    )
    scored = (
        sym.join(
            F.broadcast(totals.select(F.col("p").alias("p1"), F.col("n").alias("n1"))),
            "p1",
        )
        .join(
            F.broadcast(totals.select(F.col("p").alias("p2"), F.col("n").alias("n2"))),
            "p2",
        )
        .select(
            F.col("p1").alias("part"),
            F.col("p2").alias("neighbor"),
            F.col("cooc").cast("long").alias("cooc"),
            F.round(
                F.col("cooc") / F.sqrt(F.col("n1") * F.col("n2")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("part").orderBy(
        F.col("cosine").desc(), F.col("neighbor").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("part", F.col("rnk").cast("long").alias("rnk"), "neighbor", "cooc", "cosine")
    )


COPURCHASE_ITEM_COSINE_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
cooc AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS cooc
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
totals AS (SELECT l_partkey AS p, count(*) AS n FROM op GROUP BY 1),
sym AS (
  SELECT p1, p2, cooc FROM cooc
  UNION ALL SELECT p2, p1, cooc FROM cooc
),
scored AS (
  SELECT s.p1 AS part, s.p2 AS neighbor, s.cooc,
         round(s.cooc / sqrt(t1.n * t2.n), 6) AS cosine
  FROM sym s JOIN totals t1 ON s.p1 = t1.p JOIN totals t2 ON s.p2 = t2.p
)
SELECT part, CAST(rnk AS BIGINT) AS rnk, neighbor, cooc, cosine
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY part ORDER BY cosine DESC, neighbor ASC
  ) AS rnk
  FROM scored
)
WHERE rnk <= 5
"""


QUERIES = {
    "copurchase_item_cosine": (copurchase_item_cosine, COPURCHASE_ITEM_COSINE_SQL),
    "copurchase_kcore": (copurchase_kcore, COPURCHASE_KCORE_SQL),
    "event_type_transitions": (event_type_transitions, EVENT_TYPE_TRANSITIONS_SQL),
    "user_event_paths": (user_event_paths, USER_EVENT_PATHS_SQL),
    "event_value_drift_psi": (event_value_drift_psi, EVENT_VALUE_DRIFT_PSI_SQL),
    "event_user_distinct_sketch_merge": (
        event_user_distinct_sketch_merge,
        EVENT_USER_DISTINCT_SKETCH_MERGE_SQL,
    ),
    "copurchase_communities": (copurchase_communities, COPURCHASE_COMMUNITIES_SQL),
    "yoy_nation_revenue": (yoy_nation_revenue, YOY_NATION_REVENUE_SQL),
    "customer_rfm_segments": (customer_rfm_segments, CUSTOMER_RFM_SEGMENTS_SQL),
    "copurchase_rules_lift": (copurchase_rules_lift, COPURCHASE_RULES_LIFT_SQL),
    "regression_value_by_hour": (
        regression_value_by_hour,
        REGRESSION_VALUE_BY_HOUR_SQL,
    ),
    "event_value_outliers": (event_value_outliers, EVENT_VALUE_OUTLIERS_SQL),
    "copurchase_part_pairs": (copurchase_part_pairs, COPURCHASE_PART_PAIRS_SQL),
    "copurchase_clustering_coeff": (
        copurchase_clustering_coeff,
        COPURCHASE_CLUSTERING_COEFF_SQL,
    ),
    "dedup_triangle_stats": (dedup_triangle_stats, _triangle_sql()),
    "copurchase_part_triples": (copurchase_part_triples, COPURCHASE_PART_TRIPLES_SQL),
    "copurchase_family_triples": (
        copurchase_family_triples,
        COPURCHASE_FAMILY_TRIPLES_SQL,
    ),
    "event_funnel": (event_funnel, EVENT_FUNNEL_SQL),
    "cohort_retention": (cohort_retention, COHORT_RETENTION_SQL),
    "cms_user_counts": (cms_user_counts, _cms_sql()),
    "copurchase_pagerank": (copurchase_pagerank, COPURCHASE_PAGERANK_SQL),
    "directed_pagerank_sinks": (directed_pagerank_sinks, DIRECTED_PAGERANK_SINKS_SQL),
    "recursive_supplier_reach": (
        recursive_supplier_reach,
        RECURSIVE_SUPPLIER_REACH_SQL,
    ),
}
