"""Extended analytics operators, wave 8: scale-safe BINNED twins for
the exact-cumulative statistics family.

The exact KS / Gini / ABC / Pareto queries funnel an aggregated
relation through ``Window.orderBy(...)`` — correct, and small at test
scale, but their windowed input is the DISTINCT-VALUE (or per-entity)
relation, whose cardinality is unbounded at 100 TB. These twins replace
the data-cardinality total order with a CONSTANT-cardinality one: the
value domain is cut into B=256 fixed integer bins (pure integer
arithmetic on exact cents — deterministic in every engine), per-bin
counts/sums aggregate map-side, and every cumulative quantity is a
triangular self-join over the ≤B-row bin relation — NO single-partition
Sort/Window anywhere in the plan (pinned in tests/test_scale_posture).

Because the binning is integer-exact (no sketch), each twin is a
STRICT-oracle query — DuckDB mirrors the identical arithmetic — and
each emits rigorous EXACT BRACKETS of the exact statistic:

- ``customer_balance_ks_binned``: d_lo ≤ exact D ≤ d_up, where d_lo is
  the KS statistic evaluated at the bin edges (integer cross-multiplied
  numerators, one final division) and d_up bounds the within-bin
  excursion by the neighbouring cumulative counts.
- ``customer_revenue_gini_binned``: the exact Lorenz curve evaluated at
  bin edges gives gini_lo (trapezoid — Lorenz is convex, chords
  under-estimate inequality) and gini_up (lower staircase).
- ``part_revenue_abc_binned``: each part's exact cumulative revenue
  share lies in (share_lo, share_hi] of its bin, so the A/B/C class is
  bracketed; ``class_pinned`` marks parts whose class is decided at bin
  granularity (the boundary bins are the only unpinned ones).
- ``part_pareto_frontier_banded``: a frontier SUPERSET — a part is
  certainly dominated when a strictly-lower price band contains a part
  at least as large; the survivors contain the exact frontier and are
  the bounded input an exact in-band resolution would refine.

tests/test_analytics_ext8.py asserts the bracket laws against the
exact twins at sf0.001/sf0.01 (d_lo ≤ D ≤ d_up per pair, gini in
[gini_lo, gini_up] per nation, pinned ABC classes equal the exact
class, exact frontier ⊆ banded superset).

Reference parity note: the reference has nothing in this family (its
gold layer is two grouped aggregations, `03_gold_layer_aggregation.py:
11-42`); this module is part of the analytics extension surface's
100 TB hardening.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.batch import load_table
from ..constants import TOPK_K, WINDOW_DELAY, WINDOW_DELAY_MINUTES

N_BINS = 256
DEC = "decimal(18,2)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _bin_expr(c: str, lo: str, hi: str, descending: bool = False):
    """Integer bin id in [0, N_BINS): pure BIGINT arithmetic over exact
    integer units — ``(c - lo) * B div (hi - lo + 1)`` — so the
    assignment is bit-identical in Spark and DuckDB (no float edges,
    no sketch). ``descending=True`` puts the LARGEST value in bin 0."""
    num = f"({hi} - {c})" if descending else f"({c} - {lo})"
    return F.expr(f"CAST({num} * {N_BINS} DIV ({hi} - {lo} + 1) AS BIGINT)")


def _bin_sql(c: str, lo: str, hi: str, descending: bool = False) -> str:
    num = f"({hi} - {c})" if descending else f"({c} - {lo})"
    return f"CAST({num} * {N_BINS} // ({hi} - {lo} + 1) AS BIGINT)"


# ---------- binned two-sample Kolmogorov–Smirnov bracket ----------
#
# The scale-safe twin of customer_balance_ks_test: both segments'
# account balances land in 256 integer-cent bins; the per-bin counts
# aggregate map-side; the cumulative counts CA/CB come from a
# triangular self-join of the ≤256-row bin relation (not a window).
# d_lo is the exact KS statistic restricted to the bin edges; d_up
# bounds the within-bin excursion: for v inside bin i,
#   |F1(v) − F2(v)| ≤ max(CA_i·n2 − CB_{i−1}·n1, CB_i·n1 − CA_{i−1}·n2)
# (CDFs are monotone within the bin). All numerators are exact integers
# (cross-multiplied cumulative counts), so max() comparisons can never
# float-flip; the two divisions happen once at the end.

KS_SEG_A = "BUILDING"
KS_SEG_B = "MACHINERY"


def customer_balance_ks_binned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.expr(
            "CAST(floor(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT)"
        ).alias("cents"),
    )
    both = c.filter(
        F.col("c_mktsegment").isin(KS_SEG_A, KS_SEG_B)
    ).select(
        "cents",
        F.when(F.col("c_mktsegment") == KS_SEG_A, 1)
        .otherwise(0)
        .alias("a"),
        F.when(F.col("c_mktsegment") == KS_SEG_B, 1)
        .otherwise(0)
        .alias("b"),
    )
    rng = both.groupBy().agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.sum("a").cast("long").alias("n1"),
        F.sum("b").cast("long").alias("n2"),
    )
    binned = both.crossJoin(F.broadcast(rng)).select(
        _bin_expr("cents", "lo", "hi").alias("bin"), "a", "b"
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum("a").alias("na"), F.sum("b").alias("nb")
    )
    # cumulative via triangular self-join over the ≤256-row bin
    # relation — no single-partition Sort/Window anywhere (plan-pinned)
    l, r = per_bin.alias("l"), per_bin.alias("r")
    cum = (
        l.join(F.broadcast(r), F.col("r.bin") <= F.col("l.bin"))
        .groupBy(F.col("l.bin").alias("bin"))
        .agg(
            F.sum("r.na").alias("ca"),
            F.sum("r.nb").alias("cb"),
            F.max(F.col("l.na")).alias("na"),
            F.max(F.col("l.nb")).alias("nb"),
        )
    )
    terms = cum.crossJoin(F.broadcast(rng.select("n1", "n2"))).select(
        F.abs(F.col("ca") * F.col("n2") - F.col("cb") * F.col("n1")).alias(
            "edge_num"
        ),
        F.greatest(
            F.col("ca") * F.col("n2")
            - (F.col("cb") - F.col("nb")) * F.col("n1"),
            F.col("cb") * F.col("n1")
            - (F.col("ca") - F.col("na")) * F.col("n2"),
        ).alias("in_num"),
        "n1",
        "n2",
    )
    return terms.groupBy("n1", "n2").agg(
        F.max("edge_num").cast("long").alias("d_lo_num"),
        F.max("in_num").cast("long").alias("d_up_num"),
        F.round(
            F.max("edge_num").cast("double")
            / (F.col("n1") * F.col("n2")).cast("double"),
            9,
        ).alias("d_lo"),
        F.round(
            F.max("in_num").cast("double")
            / (F.col("n1") * F.col("n2")).cast("double"),
            9,
        ).alias("d_up"),
    )


CUSTOMER_BALANCE_KS_BINNED_SQL = f"""
WITH two_seg AS (
  SELECT CAST(floor(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents,
         CASE WHEN c_mktsegment = '{KS_SEG_A}' THEN 1 ELSE 0 END AS a,
         CASE WHEN c_mktsegment = '{KS_SEG_B}' THEN 1 ELSE 0 END AS b
  FROM customer
  WHERE c_mktsegment IN ('{KS_SEG_A}', '{KS_SEG_B}')
), rng AS (
  SELECT min(cents) AS lo, max(cents) AS hi,
         CAST(sum(a) AS BIGINT) AS n1, CAST(sum(b) AS BIGINT) AS n2
  FROM two_seg
), per_bin AS (
  SELECT {_bin_sql('cents', 'lo', 'hi')} AS bin,
         sum(a) AS na, sum(b) AS nb
  FROM two_seg CROSS JOIN rng
  GROUP BY 1
), cum AS (
  SELECT l.bin, sum(r.na) AS ca, sum(r.nb) AS cb,
         max(l.na) AS na, max(l.nb) AS nb
  FROM per_bin l JOIN per_bin r ON r.bin <= l.bin
  GROUP BY l.bin
), terms AS (
  SELECT abs(c.ca * g.n2 - c.cb * g.n1) AS edge_num,
         greatest(c.ca * g.n2 - (c.cb - c.nb) * g.n1,
                  c.cb * g.n1 - (c.ca - c.na) * g.n2) AS in_num,
         g.n1, g.n2
  FROM cum c CROSS JOIN rng g
)
SELECT n1, n2,
       CAST(max(edge_num) AS BIGINT) AS d_lo_num,
       CAST(max(in_num) AS BIGINT) AS d_up_num,
       round(CAST(max(edge_num) AS DOUBLE) / CAST(n1 * n2 AS DOUBLE), 9)
         AS d_lo,
       round(CAST(max(in_num) AS DOUBLE) / CAST(n1 * n2 AS DOUBLE), 9)
         AS d_up
FROM terms GROUP BY n1, n2
"""


# ---------- binned Gini bracket, per nation ----------
#
# The scale-safe twin of customer_revenue_gini: per-customer revenue
# (exact cents) lands in 256 per-nation bins; the exact Lorenz curve
# evaluated at the bin edges brackets the exact Gini:
#   gini_lo = 1 − Σ Δp_i (L_i + L_{i−1})   (trapezoid; Lorenz convex)
#   gini_up = 1 − 2 Σ Δp_i L_{i−1}         (lower staircase)
# Per-bin count/revenue are exact integer/decimal sums; each Σ term is
# computed in double from those exact sums, rounded to 12dp and summed
# as DECIMAL (order-independent), with the final round at 6dp — the
# repo's standard cross-engine float discipline. The per-nation rank
# window of the exact twin (unbounded per-nation customer count) is
# gone: cumulative sums are a triangular join over ≤256 bins/nation.


def customer_revenue_gini_binned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (
        o.groupBy("o_custkey")
        .agg(
            (
                F.sum(F.col("o_totalprice").cast(DEC)) * 100
            ).cast("long").alias("cents")
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
        .select("n_name", "cents")
    )
    rng = rev.groupBy("n_name").agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    per_bin = (
        rev.join(F.broadcast(rng), "n_name")
        .select(
            "n_name", _bin_expr("cents", "lo", "hi").alias("bin"), "cents"
        )
        .groupBy("n_name", "bin")
        .agg(F.count("*").alias("cnt"), F.sum("cents").alias("scents"))
    )
    # per_bin (≤25×256 rows) feeds tot and both sides of the
    # triangular join — materialize once instead of re-inlining the
    # orders aggregation pipeline per reference (the NB-langid diet
    # pattern; 31→~10 exchanges)
    per_bin = per_bin.localCheckpoint(eager=True)
    tot = per_bin.groupBy("n_name").agg(
        F.sum("cnt").alias("n_cust"), F.sum("scents").alias("tot_cents")
    )
    l, r = per_bin.alias("l"), per_bin.alias("r")
    cum = (
        l.join(
            F.broadcast(r),
            (F.col("l.n_name") == F.col("r.n_name"))
            & (F.col("r.bin") <= F.col("l.bin")),
        )
        .groupBy(F.col("l.n_name").alias("n_name"), F.col("l.bin").alias("bin"))
        .agg(
            F.sum("r.cnt").alias("ccnt"),
            F.sum("r.scents").alias("crev"),
            F.max(F.col("l.cnt")).alias("cnt"),
            F.max(F.col("l.scents")).alias("srev"),
        )
    )
    j = cum.join(F.broadcast(tot), "n_name")
    dp = F.col("cnt").cast("double") / F.col("n_cust").cast("double")
    li = F.col("crev").cast("double") / F.col("tot_cents").cast("double")
    lprev = (F.col("crev") - F.col("srev")).cast("double") / F.col(
        "tot_cents"
    ).cast("double")
    terms = j.select(
        "n_name",
        "n_cust",
        "tot_cents",
        F.round(dp * (li + lprev), 12).cast("decimal(38,12)").alias("trap"),
        F.round(dp * lprev, 12).cast("decimal(38,12)").alias("stair"),
    )
    return terms.groupBy("n_name").agg(
        F.max("n_cust").cast("long").alias("n_customers"),
        F.round(
            F.max("tot_cents").cast("double") / 100.0, 2
        ).alias("total_revenue"),
        F.round(
            1.0 - F.sum("trap").cast("double"), 6
        ).alias("gini_lo"),
        F.round(
            1.0 - 2.0 * F.sum("stair").cast("double"), 6
        ).alias("gini_up"),
    )


CUSTOMER_REVENUE_GINI_BINNED_SQL = f"""
WITH rev AS (
  SELECT n.n_name,
         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name, o.o_custkey
), rng AS (
  SELECT n_name, min(cents) AS lo, max(cents) AS hi
  FROM rev GROUP BY n_name
), per_bin AS (
  SELECT rev.n_name, {_bin_sql('cents', 'lo', 'hi')} AS bin,
         count(*) AS cnt, sum(cents) AS scents
  FROM rev JOIN rng ON rev.n_name = rng.n_name
  GROUP BY 1, 2
), tot AS (
  SELECT n_name, sum(cnt) AS n_cust, sum(scents) AS tot_cents
  FROM per_bin GROUP BY n_name
), cum AS (
  SELECT l.n_name, l.bin,
         sum(r.cnt) AS ccnt, sum(r.scents) AS crev,
         max(l.cnt) AS cnt, max(l.scents) AS srev
  FROM per_bin l
  JOIN per_bin r ON r.n_name = l.n_name AND r.bin <= l.bin
  GROUP BY l.n_name, l.bin
), terms AS (
  SELECT c.n_name, t.n_cust, t.tot_cents,
         CAST(round(
           (CAST(c.cnt AS DOUBLE) / CAST(t.n_cust AS DOUBLE))
           * (CAST(c.crev AS DOUBLE) / CAST(t.tot_cents AS DOUBLE)
              + CAST(c.crev - c.srev AS DOUBLE)
                / CAST(t.tot_cents AS DOUBLE)), 12) AS DECIMAL(38,12))
           AS trap,
         CAST(round(
           (CAST(c.cnt AS DOUBLE) / CAST(t.n_cust AS DOUBLE))
           * (CAST(c.crev - c.srev AS DOUBLE)
              / CAST(t.tot_cents AS DOUBLE)), 12) AS DECIMAL(38,12))
           AS stair
  FROM cum c JOIN tot t ON c.n_name = t.n_name
)
SELECT n_name,
       CAST(max(n_cust) AS BIGINT) AS n_customers,
       round(CAST(max(tot_cents) AS DOUBLE) / 100.0, 2) AS total_revenue,
       round(1.0 - CAST(sum(trap) AS DOUBLE), 6) AS gini_lo,
       round(1.0 - 2.0 * CAST(sum(stair) AS DOUBLE), 6) AS gini_up
FROM terms GROUP BY n_name
"""


# ---------- binned ABC classification bracket ----------
#
# The scale-safe twin of part_revenue_abc: parts land in 256
# revenue-value bins (descending — bin 0 = highest revenue); the exact
# cumulative share of every part in bin i lies in (share_lo_i,
# share_hi_i], where share_lo/share_hi are the bin's cumulative revenue
# share excluding/including the bin (exact decimal units, one division
# each). The A/B/C class is monotone in the share, so each part's class
# is bracketed by (class_lo, class_hi); ``class_pinned`` is true
# everywhere except in the ≤2 bins straddling the 80%/95% boundaries.
# The per-part global cumulative window of the exact twin is gone.


def part_revenue_abc_binned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        (
            F.sum(
                F.col("l_extendedprice").cast(DEC)
                * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
            )
            * 10000
        ).cast("long").alias("units")
    )
    rng = rev.groupBy().agg(
        F.min("units").alias("lo"),
        F.max("units").alias("hi"),
        F.sum("units").alias("total"),
    )
    binned = rev.crossJoin(F.broadcast(rng)).select(
        "l_partkey",
        "units",
        _bin_expr("units", "lo", "hi", descending=True).alias("bin"),
        "total",
    )
    # binned (|parts| narrow rows) feeds the bin aggregate AND the
    # final per-part join — materialize once so the lineitem revenue
    # aggregation doesn't re-inline per reference
    binned = binned.localCheckpoint(eager=True)
    per_bin = binned.groupBy("bin").agg(F.sum("units").alias("brev"))
    l, r = per_bin.alias("l"), per_bin.alias("r")
    cum = (
        l.join(F.broadcast(r), F.col("r.bin") <= F.col("l.bin"))
        .groupBy(F.col("l.bin").alias("bin"))
        .agg(
            F.sum("r.brev").alias("crev"),
            F.max(F.col("l.brev")).alias("brev"),
        )
    )
    out = binned.join(F.broadcast(cum), "bin")
    share_hi = F.col("crev").cast("double") / F.col("total").cast("double")
    share_lo = (F.col("crev") - F.col("brev")).cast("double") / F.col(
        "total"
    ).cast("double")
    class_lo = (
        F.when(share_lo < 0.80, "A").when(share_lo < 0.95, "B").otherwise("C")
    )
    class_hi = (
        F.when(share_hi <= 0.80, "A")
        .when(share_hi <= 0.95, "B")
        .otherwise("C")
    )
    return out.select(
        "l_partkey",
        F.round(F.col("units").cast("double") / 10000.0, 4).alias("revenue"),
        F.col("bin").cast("long").alias("bin"),
        class_lo.alias("abc_class_lo"),
        class_hi.alias("abc_class_hi"),
        (class_lo == class_hi).alias("class_pinned"),
    )


PART_REVENUE_ABC_BINNED_SQL = f"""
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
              * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
              * 10000 AS BIGINT) AS units
  FROM lineitem GROUP BY 1
), rng AS (
  SELECT min(units) AS lo, max(units) AS hi, sum(units) AS total FROM rev
), binned AS (
  SELECT l_partkey, units,
         {_bin_sql('units', 'lo', 'hi', descending=True)} AS bin,
         total
  FROM rev CROSS JOIN rng
), per_bin AS (
  SELECT bin, sum(units) AS brev FROM binned GROUP BY bin
), cum AS (
  SELECT l.bin, sum(r.brev) AS crev, max(l.brev) AS brev
  FROM per_bin l JOIN per_bin r ON r.bin <= l.bin
  GROUP BY l.bin
), shares AS (
  SELECT b.l_partkey, b.units, b.bin,
         CAST(c.crev AS DOUBLE) / CAST(b.total AS DOUBLE) AS share_hi,
         CAST(c.crev - c.brev AS DOUBLE) / CAST(b.total AS DOUBLE)
           AS share_lo
  FROM binned b JOIN cum c ON b.bin = c.bin
)
SELECT l_partkey,
       round(CAST(units AS DOUBLE) / 10000.0, 4) AS revenue,
       CAST(bin AS BIGINT) AS bin,
       CASE WHEN share_lo < 0.80 THEN 'A'
            WHEN share_lo < 0.95 THEN 'B' ELSE 'C' END AS abc_class_lo,
       CASE WHEN share_hi <= 0.80 THEN 'A'
            WHEN share_hi <= 0.95 THEN 'B' ELSE 'C' END AS abc_class_hi,
       (CASE WHEN share_lo < 0.80 THEN 'A'
             WHEN share_lo < 0.95 THEN 'B' ELSE 'C' END)
         = (CASE WHEN share_hi <= 0.80 THEN 'A'
                 WHEN share_hi <= 0.95 THEN 'B' ELSE 'C' END)
         AS class_pinned
FROM shares
"""


# ---------- banded Pareto frontier superset ----------
#
# The scale-safe twin of part_pareto_frontier for an UNBOUNDED price
# domain (the exact twin's window runs over distinct prices — fine for
# a dimension-bounded domain, unbounded in general): prices land in 256
# integer-cent bands; a part is CERTAINLY dominated when some strictly
# lower band holds a part at least as large (lower band ⇒ strictly
# lower price, so the dominance is decided without any within-band
# comparison). The survivors are a SUPERSET of the exact frontier
# (asserted in tests) and the bounded input an exact in-band resolution
# (the exact twin's plan, per band) would refine at 1/256 the input.


def part_pareto_frontier_banded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_retailprice",
        "p_size",
        F.expr(
            "CAST(floor(CAST(p_retailprice AS DOUBLE) * 100 + 0.5) AS BIGINT)"
        ).alias("cents"),
    )
    rng = p.groupBy().agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    banded = p.crossJoin(F.broadcast(rng)).select(
        "p_partkey",
        "p_name",
        "p_retailprice",
        "p_size",
        _bin_expr("cents", "lo", "hi").alias("band"),
    )
    per_band = banded.groupBy("band").agg(F.max("p_size").alias("max_sz"))
    l, r = per_band.alias("l"), per_band.alias("r")
    before = (
        l.join(F.broadcast(r), F.col("r.band") < F.col("l.band"), "left")
        .groupBy(F.col("l.band").alias("band"))
        .agg(F.max("r.max_sz").alias("max_before"))
    )
    return (
        banded.join(F.broadcast(before), "band")
        .filter(
            F.coalesce(F.col("max_before") < F.col("p_size"), F.lit(True))
        )
        .select(
            "p_partkey",
            "p_name",
            "p_retailprice",
            "p_size",
            F.col("band").cast("long").alias("band"),
            F.coalesce("max_before", F.lit(-1))
            .cast("long")
            .alias("max_size_lower_bands"),
        )
    )


PART_PARETO_FRONTIER_BANDED_SQL = f"""
WITH p AS (
  SELECT p_partkey, p_name, p_retailprice, p_size,
         CAST(floor(CAST(p_retailprice AS DOUBLE) * 100 + 0.5) AS BIGINT)
           AS cents
  FROM part
), rng AS (
  SELECT min(cents) AS lo, max(cents) AS hi FROM p
), banded AS (
  SELECT p_partkey, p_name, p_retailprice, p_size,
         {_bin_sql('cents', 'lo', 'hi')} AS band
  FROM p CROSS JOIN rng
), per_band AS (
  SELECT band, max(p_size) AS max_sz FROM banded GROUP BY band
), before AS (
  SELECT l.band, max(r.max_sz) AS max_before
  FROM per_band l LEFT JOIN per_band r ON r.band < l.band
  GROUP BY l.band
)
SELECT b.p_partkey, b.p_name, b.p_retailprice, b.p_size,
       CAST(b.band AS BIGINT) AS band,
       CAST(COALESCE(f.max_before, -1) AS BIGINT)
         AS max_size_lower_bands
FROM banded b JOIN before f ON b.band = f.band
WHERE COALESCE(f.max_before < b.p_size, TRUE)
"""


# ---------- watermark-closed window rollups (streaming-stage twins) ----------
#
# The BATCH contracts of the three streaming window stages
# (streaming/windows.py): the stages' own window_rollup over the events
# table, RESTRICTED to windows closed by the final watermark (max event
# time − WINDOW_DELAY) — exactly the set append mode emits. The strict
# DuckDB oracles therefore check the operator the stages run, and
# tests/test_streaming_window_stages.py drives each stage on the same
# input and asserts row-set equality with these queries. The micros
# value sum keeps the aggregate integral (exact cross-engine).


def closed_window_rollup(
    e: DataFrame, window, key: str, prefix: str
) -> DataFrame:
    """``window_rollup`` over ``e``, restricted to the windows the final
    watermark has closed."""
    from ..streaming.windows import window_rollup

    mx = e.groupBy().agg(F.max("ts").alias("mx"))
    return (
        window_rollup(e, window, key, prefix)
        .crossJoin(F.broadcast(mx))
        .filter(
            F.col(f"{prefix}_end")
            <= F.col("mx") - F.expr(f"INTERVAL {WINDOW_DELAY}")
        )
        .drop("mx")
    )


def tumbling_watermark_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = _t(spark, sf_dir, "events").select("ts", "event_type", "value")
    return closed_window_rollup(
        e, F.window("ts", "1 hour"), "event_type", "win"
    ).drop("win_end")


TUMBLING_WATERMARK_ROLLUP_SQL = f"""
WITH m AS (SELECT max(ts) AS mx FROM events)
SELECT date_trunc('hour', ts) AS win_start, event_type,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
         AS total_micros
FROM events CROSS JOIN m
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
      <= mx - INTERVAL {WINDOW_DELAY_MINUTES} MINUTE
GROUP BY 1, 2
"""


def sliding_watermark_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = _t(spark, sf_dir, "events").select("ts", "event_type", "value")
    return closed_window_rollup(
        e, F.window("ts", "1 hour", "15 minutes"), "event_type", "win"
    ).drop("win_end")


SLIDING_WATERMARK_ROLLUP_SQL = f"""
WITH m AS (SELECT max(ts) AS mx FROM events),
g AS (
  SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS g0, event_type, value
  FROM events
), expanded AS (
  SELECT g0 - k.k * INTERVAL 15 MINUTE AS win_start, event_type, value
  FROM g CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k
)
SELECT win_start, event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
         AS total_micros
FROM expanded CROSS JOIN m
WHERE win_start + INTERVAL 1 HOUR <= mx - INTERVAL {WINDOW_DELAY_MINUTES} MINUTE
GROUP BY 1, 2
"""


def session_watermark_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch contract of streaming/windows.py::start_session_rollup:
    per-user 30-min-gap session windows (F.session_window — merging
    state, exclusive end at last_ts + gap), restricted to sessions
    CLOSED by the final watermark (max event time − 30 min) — exactly
    the append-mode emission set. The oracle rebuilds the same sessions
    with gaps-and-islands (new session only when the gap since the
    previous event is STRICTLY > 30 min: F.session_window merges an
    event arriving exactly gap after the previous one — verified
    empirically on PySpark 4.1.2, two events 30:00 apart form one
    session — so the split predicate must be exclusive).
    Scale: one grouped aggregate whose key domain is (user, session) —
    no self-join, no global sort; the micros sum keeps the value
    integral (exact cross-engine)."""
    e = _t(spark, sf_dir, "events").select("ts", "user_id", "value")
    return closed_window_rollup(
        e, F.session_window("ts", WINDOW_DELAY), "user_id", "session"
    )


SESSION_WATERMARK_ROLLUP_SQL = f"""
WITH m AS (SELECT max(ts) AS mx FROM events),
flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL {WINDOW_DELAY_MINUTES} MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), agg AS (
  SELECT user_id, min(ts) AS session_start,
         max(ts) + INTERVAL {WINDOW_DELAY_MINUTES} MINUTE AS session_end,
         count(*) AS n,
         CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
           AS total_micros
  FROM sess GROUP BY user_id, sid
)
SELECT session_start, session_end, user_id, n, total_micros
FROM agg CROSS JOIN m
WHERE session_end <= mx - INTERVAL {WINDOW_DELAY_MINUTES} MINUTE
"""


def user_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch contract of streaming/stateful.py::start_user_topk (the
    value-dependent-eviction state class): each user's top-TOPK_K
    events by (value DESC, event_id ASC) with rank and the user's
    lifetime event count n_seen — exactly the stage's final emission
    (its max-n_seen rows per user). Strict oracle: pure row_number /
    count windows, no arithmetic, both engines compare doubles
    identically. Scale: one exchange on user_id (both windows share
    the partitioning); per-user partitions are bounded by user
    activity, no global sort. Reference lineage: the gold rank window
    (`03_gold_layer_aggregation.py:25-28`) generalized from argmax to
    top-k."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select("user_id", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return (
        e.withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "n_seen",
            F.count("*").over(Window.partitionBy("user_id")),
        )
        .filter(F.col("rank") <= TOPK_K)
        .select("user_id", "rank", "event_id", "value", "n_seen")
    )


# TOPK_K interpolated, not hardcoded: bumping the streaming stage's K
# must not silently desync this strict oracle from the DataFrame twin
# (round-11 ADVICE).
USER_TOPK_EVENTS_SQL = f"""
WITH ranked AS (
  SELECT user_id, event_id, value,
         CAST(row_number() OVER (
           PARTITION BY user_id ORDER BY value DESC, event_id
         ) AS BIGINT) AS rank,
         count(*) OVER (PARTITION BY user_id) AS n_seen
  FROM events
)
SELECT user_id, rank, event_id, value, n_seen
FROM ranked WHERE rank <= {TOPK_K}
"""


QUERIES = {
    "tumbling_watermark_rollup": (
        tumbling_watermark_rollup,
        TUMBLING_WATERMARK_ROLLUP_SQL,
    ),
    "user_topk_events": (
        user_topk_events,
        USER_TOPK_EVENTS_SQL,
    ),
    "session_watermark_rollup": (
        session_watermark_rollup,
        SESSION_WATERMARK_ROLLUP_SQL,
    ),
    "sliding_watermark_rollup": (
        sliding_watermark_rollup,
        SLIDING_WATERMARK_ROLLUP_SQL,
    ),
    "customer_balance_ks_binned": (
        customer_balance_ks_binned,
        CUSTOMER_BALANCE_KS_BINNED_SQL,
    ),
    "customer_revenue_gini_binned": (
        customer_revenue_gini_binned,
        CUSTOMER_REVENUE_GINI_BINNED_SQL,
    ),
    "part_revenue_abc_binned": (
        part_revenue_abc_binned,
        PART_REVENUE_ABC_BINNED_SQL,
    ),
    "part_pareto_frontier_banded": (
        part_pareto_frontier_banded,
        PART_PARETO_FRONTIER_BANDED_SQL,
    ),
}
