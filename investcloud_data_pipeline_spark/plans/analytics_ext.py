"""Extended analytics operators, wave 2: exact financial allocation,
skyline/Pareto frontier, an explicit bloom-filter semi-join with
portable hashing, exact set-similarity join by prefix filtering,
bounded multi-source BFS, RAKE keyword extraction, and a seeded
deterministic global shuffle for training-order randomization.

Oracle convention as everywhere else in ``plans/``: the DuckDB SQL
restates the identical computation (same md5-derived hashes, same
integer threshold arithmetic, same single-division double math, decimal
sums wherever a float summation order could differ between engines), so
the driver's value-hash comparison is strict. Where the Spark side uses
a smarter physical algorithm than the oracle (prefix filtering vs
brute-force all-pairs; frontier BFS vs recursive-CTE state walk; bit-
packed bloom words vs an occupied-position set), the oracle is an
independent brute-force restatement of the same MATHEMATICAL result —
a stronger check than mirroring the mechanics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import setsim as SX
from ..operators.graph import bounded_bfs
from ..sources.batch import load_table
from .mining import copurchase_part_pairs
from .training_data import NORM_SQL, SHINGLES_CTE, shingles_cached


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------- largest-remainder proration ----------
#
# The financial-allocation shape: spread each order's header total
# across its line items proportionally to extended price, in WHOLE
# CENTS, such that per-order cents sum EXACTLY to the header total —
# floor every raw share, then hand the leftover cents to the rows with
# the largest fractional remainders (deterministic tie-break on line
# number). Naive per-row rounding drifts by up to n/2 cents per order
# and reconciliation jobs exist to chase exactly that drift.
#
# Exactness posture: weights are summed as DECIMAL(18,2) (order-
# independent), the single double division per row is the identical
# expression in both engines, and the remainder ranking is totally
# ordered. 100 TB posture: every window partitions by l_orderkey, so
# the whole operator is ONE shuffle; the two window sorts (line order,
# remainder order) share that exchange.

def order_proration_largest_remainder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("w"),
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("total_cents"),
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).drop("o_orderkey")
    wo = Window.partitionBy("l_orderkey")
    raw = (
        F.col("total_cents").cast("double")
        * F.col("w").cast("double")
        / F.sum("w").over(wo).cast("double")
    )
    j = j.select(
        "l_orderkey",
        "l_linenumber",
        F.floor(raw).cast("long").alias("base_cents"),
        (raw - F.floor(raw)).alias("rem"),
        "total_cents",
    )
    wrank = Window.partitionBy("l_orderkey").orderBy(
        F.col("rem").desc(), F.col("l_linenumber")
    )
    return j.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("base_cents")
            + F.when(
                F.row_number().over(wrank)
                <= F.col("total_cents") - F.sum("base_cents").over(wo),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("alloc_cents"),
    )


ORDER_PRORATION_SQL = """
WITH j AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS w,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
shares AS (
  SELECT l_orderkey, l_linenumber, total_cents,
         CAST(floor(CAST(total_cents AS DOUBLE) * CAST(w AS DOUBLE)
                    / CAST(sum(w) OVER (PARTITION BY l_orderkey) AS DOUBLE)) AS BIGINT)
           AS base_cents,
         CAST(total_cents AS DOUBLE) * CAST(w AS DOUBLE)
           / CAST(sum(w) OVER (PARTITION BY l_orderkey) AS DOUBLE)
         - floor(CAST(total_cents AS DOUBLE) * CAST(w AS DOUBLE)
                 / CAST(sum(w) OVER (PARTITION BY l_orderkey) AS DOUBLE))
           AS rem
  FROM j
)
SELECT l_orderkey, l_linenumber,
       CAST(base_cents
            + CASE WHEN row_number() OVER (PARTITION BY l_orderkey
                                           ORDER BY rem DESC, l_linenumber)
                        <= total_cents - sum(base_cents) OVER (PARTITION BY l_orderkey)
                   THEN 1 ELSE 0 END AS BIGINT) AS alloc_cents
FROM shares
"""


# ---------- Pareto / skyline frontier ----------
#
# Non-dominated parts on (price low, size high): part A dominates B
# when A is no worse on both axes and strictly better on one. The
# naive skyline is an O(n²) self-anti-join; sorting by price turns it
# into one grouped max plus one running-max window over the DISTINCT
# PRICES — a relation bounded by the price domain, not the part count.
# 100 TB posture: one shuffle for the per-price max, one single-
# partition window over |distinct prices| rows (dimension-bounded; for
# an unbounded price domain, the round-9 twin
# analytics_ext8.part_pareto_frontier_banded bands prices into 256
# fixed bins — superset semantics, no window), one broadcast-sized
# join back.

def part_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    per_price = p.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("max_sz")
    )
    w = Window.orderBy("price").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ppw = per_price.withColumn("max_before", F.max("max_sz").over(w))
    dominated = F.coalesce(
        F.col("max_before") >= F.col("p_size"), F.lit(False)
    ) | (F.col("max_sz") > F.col("p_size"))
    return (
        p.join(F.broadcast(ppw), p.p_retailprice == ppw.price)
        .filter(~dominated)
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
    )


PART_PARETO_FRONTIER_SQL = """
WITH pp AS (
  SELECT p_retailprice AS price, max(p_size) AS max_sz FROM part GROUP BY 1
),
ppw AS (
  SELECT price, max_sz,
         max(max_sz) OVER (ORDER BY price
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS max_before
  FROM pp
)
SELECT p_partkey, p_name, p_retailprice, p_size
FROM part JOIN ppw ON p_retailprice = price
WHERE NOT (COALESCE(max_before >= p_size, FALSE) OR max_sz > p_size)
"""


# ---------- bloom-filter semi-join ----------
#
# The runtime-filter pattern made explicit: build a Bloom filter over
# the keys of a FILTERED dimension (customers in one market segment),
# broadcast it, and pre-screen the fact side map-side before any
# shuffle — at 100 TB this is what keeps a selective dim filter from
# shuffling the whole fact table (Spark's own bloom-join does this
# inside the optimizer; the posture tests pin its eligibility — this
# operator is the observable, engine-portable form, and it reports its
# own false-positive economics).
#
# m = 2^16 positions (4 md5 hex chars), k = 3 salted hashes. The Spark
# side packs positions into 1024 64-bit words (bit_or aggregate,
# bitwise-AND probes — a real bloom). The oracle models the SAME
# filter as the set of occupied positions (membership in a set of hex
# strings) — mathematically the identical predicate, so pass/fail
# agree row-for-row, false positives included.

_BLOOM_K = 3


def _bloom_pos(key, s: int):
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"b{s}:"), key)), 1, 4), 16, 10
    ).cast("long")


def bloom_filter_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    # the probe side evaluates _BLOOM_K md5-derived positions per order
    # row before exploding — per-row hash compute dominates the scan;
    # the scan is widened (sources/batch.py has the A/B)
    o = load_table(spark, sf_dir, "orders", scan_wide=True)
    dim = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("dim_key")
    ).persist()

    dkey = F.col("dim_key").cast("string")
    words = (
        dim.select(
            F.explode(
                F.array(*[_bloom_pos(dkey, s) for s in range(_BLOOM_K)])
            ).alias("pos")
        )
        .groupBy(F.floor(F.col("pos") / 64).alias("word_idx"))
        .agg(
            F.expr("bit_or(shiftleft(1L, CAST(pos % 64 AS INT)))").alias(
                "bits"
            )
        )
    )

    pkey = F.col("o_custkey").cast("string")
    probes = o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_custkey",
        F.explode(
            F.array(*[_bloom_pos(pkey, s) for s in range(_BLOOM_K)])
        ).alias("pos"),
    ).select(
        "o_orderkey",
        "o_orderstatus",
        "o_custkey",
        F.floor(F.col("pos") / 64).alias("word_idx"),
        F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("mask"),
    )
    hits = probes.join(F.broadcast(words), "word_idx", "left").select(
        "o_orderkey",
        "o_orderstatus",
        "o_custkey",
        (
            F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask"))
            != 0
        ).alias("hit"),
    )
    per_order = hits.groupBy(
        "o_orderkey", "o_orderstatus", "o_custkey"
    ).agg((F.count_if("hit") == _BLOOM_K).alias("bloom_pass"))

    flagged = per_order.join(
        F.broadcast(dim), per_order.o_custkey == dim.dim_key, "left"
    ).select(
        "o_orderstatus",
        "bloom_pass",
        F.col("dim_key").isNotNull().alias("is_match"),
    )
    out = flagged.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.count_if("bloom_pass").cast("long").alias("n_pass_bloom"),
        F.count_if("is_match").cast("long").alias("n_true_match"),
        F.count_if(F.col("bloom_pass") & ~F.col("is_match"))
        .cast("long")
        .alias("n_false_pos"),
        (F.count_if(F.col("is_match") & ~F.col("bloom_pass")) == 0).alias(
            "no_false_negatives"
        ),
    )
    return out


def _bloom_sql() -> str:
    def pos(src: str, s: int) -> str:
        return f"substr(md5('b{s}:' || CAST({src} AS VARCHAR)), 1, 4)"

    occupied = "\n  UNION\n".join(
        f"  SELECT {pos('c_custkey', s)} AS p FROM dim"
        for s in range(_BLOOM_K)
    )
    probe_cols = ",\n         ".join(
        f"{pos('o_custkey', s)} AS p{s}" for s in range(_BLOOM_K)
    )
    pass_expr = " AND ".join(
        f"(p{s} IN (SELECT p FROM occupied))" for s in range(_BLOOM_K)
    )
    return f"""
WITH dim AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
occupied AS (
{occupied}
),
probe AS (
  SELECT o_orderkey, o_orderstatus, o_custkey,
         {probe_cols}
  FROM orders
),
flags AS (
  SELECT o_orderstatus,
         ({pass_expr}) AS bloom_pass,
         o_custkey IN (SELECT c_custkey FROM dim) AS is_match
  FROM probe
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count_if(bloom_pass) AS BIGINT) AS n_pass_bloom,
       CAST(count_if(is_match) AS BIGINT) AS n_true_match,
       CAST(count_if(bloom_pass AND NOT is_match) AS BIGINT) AS n_false_pos,
       count_if(is_match AND NOT bloom_pass) = 0 AS no_false_negatives
FROM flags GROUP BY 1
"""


# ---------- exact set-similarity join (prefix filtering) ----------

def dedup_prefix_filter_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact 3-shingle Jaccard >= 1/2 pairs via prefix filtering
    (operators/setsim.py) — the EXACT, lossless counterpart to the
    minhash-LSH candidate economics, and a second physical algorithm
    for the ``dedup_ngram_jaccard`` pair set (that operator joins on
    ALL shared shingles; this one joins only on each doc's rarest
    prefix shingles and verifies candidates with an array intersect).
    The oracle is the brute-force all-pairs shingle join: an
    independent formulation, so a prefix-length bug that dropped a
    pair would fail the ledger, not be mirrored by it."""
    return SX.prefix_filter_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, num=1, den=2,
        store=shingles_cached(spark, sf_dir),
    )


DEDUP_PREFIX_FILTER_JACCARD_SQL = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id1, id2, CAST(n_common AS BIGINT) AS n_common,
       round(n_common / (s1.n + s2.n - n_common), 6) AS jaccard
FROM common
JOIN sizes s1 ON id1 = s1.doc_id
JOIN sizes s2 ON id2 = s2.doc_id
WHERE 2 * n_common >= 1 * (s1.n + s2.n - n_common)
"""


# ---------- bounded multi-source BFS ----------

def copurchase_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance (<= 4) from the five smallest part ids in
    the co-purchase graph — the blast-radius / neighborhood primitive.
    Spark runs frontier-expansion BFS (operators/graph.py::bounded_bfs,
    each node expanded once); the oracle walks (node, hops) states with
    a set-dedup recursive CTE and takes min(hops), which equals BFS
    under the same bound."""
    pairs = copurchase_part_pairs(spark, sf_dir)
    nodes = (
        pairs.select(F.col("part1").alias("node"))
        .union(pairs.select(F.col("part2").alias("node")))
        .distinct()
    )
    seeds = nodes.orderBy("node").limit(5)
    out = bounded_bfs(
        pairs, seeds, src="part1", dst="part2", max_hops=4
    ).select(F.col("node").cast("long").alias("part_id"), "hops")
    return out


COPURCHASE_BFS_HOPS_SQL = """
WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part1, b.l_partkey AS part2
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 3
),
e2 AS (
  SELECT part1 AS a, part2 AS b FROM pairs
  UNION
  SELECT part2 AS a, part1 AS b FROM pairs
),
seeds AS (
  SELECT DISTINCT a AS node FROM e2 ORDER BY node LIMIT 5
),
walk(node, hops) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT e2.b, w.hops + 1
  FROM walk w JOIN e2 ON w.node = e2.a
  WHERE w.hops < 4
)
SELECT CAST(node AS BIGINT) AS part_id, CAST(min(hops) AS BIGINT) AS hops
FROM walk GROUP BY 1
"""


# ---------- RAKE keyword extraction ----------
#
# Rapid Automatic Keyword Extraction (Rose et al. 2010): candidate
# phrases are the maximal stopword-free token runs; word score =
# degree/frequency (degree counts co-membership, so words that travel
# in long phrases score high); phrase score = sum of member word
# scores. Cross-engine exactness: phrase extraction is ONE regex
# (identical in Java and RE2), the single degree/frequency division is
# the only float op, and phrase scores are summed as DECIMAL(18,6)
# over 6dp-rounded word scores — no float summation order anywhere.
# 100 TB posture: two corpus-wide shuffles (word stats, phrase stats);
# the word-score relation is vocabulary-sized and broadcast.

RAKE_STOPWORDS = sorted(
    {
        "the", "and", "of", "to", "a", "in", "is", "it", "for", "on",
        "with", "as", "was", "at", "by", "an", "be", "this", "that",
        "from", "or", "are", "but", "not", "have", "has", "had", "they",
        "you", "we", "his", "her", "its", "their", "our", "my", "your",
        "he", "she", "i", "will", "would", "can", "could", "all", "so",
        "if", "about", "into", "than", "then", "when", "which", "who",
        "what", "there", "were", "been", "more", "no", "do", "does",
    }
)
_RAKE_TOPK = 20
_RAKE_SW_RE = r"\b(" + "|".join(RAKE_STOPWORDS) + r")\b"


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import normalize_text

    d = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    phrases = (
        d.select(
            F.explode(
                F.split(
                    F.regexp_replace(
                        normalize_text("text"), _RAKE_SW_RE, "|"
                    ),
                    r"\|",
                )
            ).alias("raw")
        )
        .select(F.trim("raw").alias("phrase"))
        .filter(F.col("phrase") != "")
        .persist()
    )

    word_occ = phrases.select(
        F.explode(F.split("phrase", " ")).alias("word"),
        F.size(F.split("phrase", " ")).alias("plen"),
    )
    wscore = word_occ.groupBy("word").agg(
        F.round(
            F.sum("plen").cast("double") / F.count("*").cast("double"), 6
        ).alias("wscore")
    )

    per_phrase = phrases.groupBy("phrase").agg(
        F.count("*").cast("long").alias("n_occurrences")
    )
    ptok = per_phrase.select(
        "phrase", F.explode(F.split("phrase", " ")).alias("word")
    )
    scored = (
        ptok.join(F.broadcast(wscore), "word")
        .groupBy("phrase")
        .agg(
            F.round(
                F.sum(F.col("wscore").cast("decimal(18,6)")).cast(
                    "double"
                ),
                6,
            ).alias("score")
        )
    )
    out = (
        per_phrase.join(scored, "phrase")
        .select(
            "phrase",
            F.size(F.split("phrase", " ")).cast("long").alias("n_words"),
            "n_occurrences",
            "score",
        )
        .orderBy(F.col("score").desc(), "phrase")
        .limit(_RAKE_TOPK)
    )
    return out


TEXT_RAKE_KEYWORDS_SQL = f"""
WITH docs AS (
  SELECT {NORM_SQL} AS norm FROM documents WHERE lang = 'en'
),
phrases AS (
  SELECT trim(raw) AS phrase
  FROM docs,
       unnest(string_split(
         regexp_replace(norm, '{_RAKE_SW_RE}', '|', 'g'), '|')) AS t(raw)
  WHERE trim(raw) <> ''
),
word_occ AS (
  SELECT unnest(string_split(phrase, ' ')) AS word,
         len(string_split(phrase, ' ')) AS plen
  FROM phrases
),
wscore AS (
  SELECT word,
         round(CAST(sum(plen) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
           AS wscore
  FROM word_occ GROUP BY 1
),
per_phrase AS (
  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences
  FROM phrases GROUP BY 1
),
ptok AS (
  SELECT phrase, unnest(string_split(phrase, ' ')) AS word FROM per_phrase
),
scored AS (
  SELECT phrase,
         round(CAST(sum(CAST(wscore AS DECIMAL(18,6))) AS DOUBLE), 6)
           AS score
  FROM ptok JOIN wscore USING (word) GROUP BY phrase
)
SELECT phrase,
       CAST(len(string_split(phrase, ' ')) AS BIGINT) AS n_words,
       n_occurrences, score
FROM per_phrase JOIN scored USING (phrase)
ORDER BY score DESC, phrase
LIMIT {_RAKE_TOPK}
"""


# ---------- seeded deterministic global shuffle ----------

def corpus_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-order randomization (operators/setsim.py::
    seeded_shuffle_assignment): md5(epoch_seed:doc_id) sort key, 16
    md5-uniform shards, in-shard rank. A new epoch seed reshuffles
    globally with zero coordination; the write is repartition-by-shard
    + sortWithinPartitions — never a global sort."""
    return SX.seeded_shuffle_assignment(
        _t(spark, sf_dir, "documents"), epoch_seed="ep1", n_shards=16
    )


CORPUS_GLOBAL_SHUFFLE_SQL = """
WITH keyed AS (
  SELECT doc_id,
         md5('ep1:' || CAST(doc_id AS VARCHAR)) AS sort_key
  FROM documents
)
SELECT doc_id,
       CAST(('0x' || substr(sort_key, 1, 1)) AS INTEGER) AS shard_id,
       CAST(row_number() OVER (
         PARTITION BY CAST(('0x' || substr(sort_key, 1, 1)) AS INTEGER)
         ORDER BY sort_key, doc_id) AS BIGINT) AS shard_pos
FROM keyed
"""


# ---------- incremental view maintenance: join delta ----------
#
# The IVM identity for joins:  Δ(R ⋈ S) = ΔR⋈S₀ ∪ R₀⋈ΔS ∪ ΔR⋈ΔS.
# The Spark side computes the delta EXACTLY that way — the three
# delta-sided joins, never re-joining base with base — which is the
# whole point at 100 TB: refresh cost proportional to |Δ|·fan-in, not
# |base|. The oracle derives the same delta the expensive, independent
# way: full recompute EXCEPT ALL the base materialization, then the
# identical aggregate — so a missing or duplicated term in the
# decomposition fails the ledger.
#
# Base = orders before the split date joined to lineitems shipped
# before it; everything else is delta. Revenue uses the repo's exact
# decimal-product idiom (no float summation order anywhere).

_IVM_SPLIT = "1999-01-01 00:00:00"


def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    split = F.expr(f"timestamp'{_IVM_SPLIT}'")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice",
        "l_discount",
        "l_shipdate",
    )
    o_old = o.filter(F.col("o_orderdate") < split)
    o_new = o.filter(F.col("o_orderdate") >= split)
    l_old = l.filter(F.col("l_shipdate") < split)
    l_new = l.filter(F.col("l_shipdate") >= split)

    def j(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b, a["o_orderkey"] == b["l_orderkey"])

    delta = (
        j(o_new, l_old).unionByName(j(o_old, l_new)).unionByName(j(o_new, l_new))
    )
    disc = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)")
        - F.col("l_discount").cast("decimal(18,2)")
    )
    return delta.groupBy("o_orderstatus", "l_returnflag").agg(
        F.count("*").cast("long").alias("n_delta_rows"),
        F.sum(disc).cast("double").alias("delta_revenue"),
    )


IVM_JOIN_DELTA_SQL = f"""
WITH all_j AS (
  SELECT o_orderkey, l_linenumber, o_orderstatus, l_returnflag,
         l_extendedprice, l_discount
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
base_j AS (
  SELECT o_orderkey, l_linenumber, o_orderstatus, l_returnflag,
         l_extendedprice, l_discount
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_orderdate < TIMESTAMP '{_IVM_SPLIT}'
    AND l_shipdate < TIMESTAMP '{_IVM_SPLIT}'
),
delta AS (
  SELECT * FROM all_j EXCEPT ALL SELECT * FROM base_j
)
SELECT o_orderstatus, l_returnflag,
       CAST(count(*) AS BIGINT) AS n_delta_rows,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS delta_revenue
FROM delta GROUP BY 1, 2
"""


# ---------- mutual information profile ----------
#
# Feature-relevance profiling: the mutual information between order
# priority and order status, emitted as the per-cell PMI table whose
# contributions sum to MI. One grouped count plus two broadcast
# marginal joins and a broadcast 1-row total fold — the whole operator
# is one fact-table shuffle regardless of scale. The single ln() per
# cell is the only float op (6dp-rounded; the repo-wide ≤1-ulp
# cross-engine libm caveat applies and has never flipped a 6dp round).

def orders_priority_status_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    # marginals and the total are SUMS OF THE JOINT — derive them from
    # the one fact-table shuffle instead of re-scanning orders three
    # more times (the joint relation is |priorities|×|statuses| rows,
    # so the re-aggregations are free at any scale)
    joint = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_xy")
    ).persist()
    mx = joint.groupBy("o_orderpriority").agg(F.sum("n_xy").alias("n_x"))
    my = joint.groupBy("o_orderstatus").agg(F.sum("n_xy").alias("n_y"))
    tot = joint.agg(F.sum("n_xy").alias("n"))
    pmi = F.log(
        F.col("n_xy").cast("double")
        * F.col("n").cast("double")
        / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
    )
    return (
        joint.join(F.broadcast(mx), "o_orderpriority")
        .join(F.broadcast(my), "o_orderstatus")
        .crossJoin(F.broadcast(tot))
        .select(
            "o_orderpriority",
            "o_orderstatus",
            F.col("n_xy").cast("long").alias("n_xy"),
            F.round(pmi, 6).alias("pmi"),
            F.round(
                F.col("n_xy").cast("double") / F.col("n").cast("double") * pmi,
                9,
            ).alias("mi_contrib"),
        )
    )


ORDERS_PRIORITY_STATUS_MI_SQL = """
WITH joint AS (
  SELECT o_orderpriority, o_orderstatus, count(*) AS n_xy
  FROM orders GROUP BY 1, 2
),
mx AS (SELECT o_orderpriority, count(*) AS n_x FROM orders GROUP BY 1),
my AS (SELECT o_orderstatus, count(*) AS n_y FROM orders GROUP BY 1),
tot AS (SELECT count(*) AS n FROM orders)
SELECT o_orderpriority, o_orderstatus,
       CAST(n_xy AS BIGINT) AS n_xy,
       round(ln(CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE)
                / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 6) AS pmi,
       round(CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE)
             * ln(CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE)
                  / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 9)
         AS mi_contrib
FROM joint JOIN mx USING (o_orderpriority)
           JOIN my USING (o_orderstatus)
           CROSS JOIN tot
"""


# ---------- business-day calendar arithmetic ----------
#
# Order-to-ship lead time in BUSINESS days (weekends excluded), rolled
# up by order month — in CLOSED FORM: biz(od, sd] = 5·⌊days/7⌋ plus
# the weekday count of the ≤6 leftover days, which depends only on
# weekday(od) and days%7 (a ≤6-element integer sequence filter, O(1)
# per row; the first cut materialized the full date range per row and
# cost 22s at sf0.1 — 100× the closed form). Sums stay integral; the
# one division per group is the only float op. The engines compute
# "weekday of od" independently (Spark weekday() 0=Mon, DuckDB
# isodow()−1) — same calendar fact, so this also cross-checks the two
# date libraries rather than mirroring one.

def lineitem_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    j = l.join(o, l.l_orderkey == o.o_orderkey)
    od = F.to_date("o_orderdate")
    sd = F.to_date("l_shipdate")
    days = F.datediff(sd, od)
    fw = F.floor(days / 7).cast("int")
    rem = days - fw * 7
    wd = F.weekday(od)
    # weekday(od + 7·fw + i) = (wd + i) mod 7; Spark's sequence(1, 0)
    # is DESCENDING, so the rem = 0 case must be guarded explicitly
    rem_biz = F.when(
        rem > 0,
        F.size(
            F.filter(
                F.sequence(F.lit(1), rem),
                lambda i: F.pmod(wd + i, F.lit(7)) <= F.lit(4),
            )
        ),
    ).otherwise(F.lit(0))
    biz = F.when(days > 0, fw * 5 + rem_biz).otherwise(F.lit(0))
    return (
        j.select(F.date_format(od, "yyyy-MM").alias("order_month"), biz.alias("biz"))
        .groupBy("order_month")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum("biz").cast("long").alias("total_biz_days"),
            F.round(
                F.sum("biz").cast("double") / F.count("*").cast("double"), 6
            ).alias("avg_biz_days"),
            F.max("biz").cast("long").alias("max_biz_days"),
        )
    )


LINEITEM_BUSINESS_DAYS_SQL = """
WITH base AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
         datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
           AS days,
         isodow(CAST(o_orderdate AS DATE)) - 1 AS wd
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
j AS (
  SELECT order_month,
         CASE WHEN days > 0 THEN
           CAST(floor(days / 7) AS INTEGER) * 5
           + CASE WHEN days - CAST(floor(days / 7) AS INTEGER) * 7 > 0 THEN
               len(list_filter(
                 range(1, days - CAST(floor(days / 7) AS INTEGER) * 7 + 1),
                 i -> (wd + i) % 7 <= 4))
             ELSE 0 END
         ELSE 0 END AS biz
  FROM base
)
SELECT order_month,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(biz) AS BIGINT) AS total_biz_days,
       round(CAST(sum(biz) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS avg_biz_days,
       CAST(max(biz) AS BIGINT) AS max_biz_days
FROM j GROUP BY 1
"""


# ---------- histogram quantile sketch ----------
#
# The third leg of the mergeable-sketch family (CMS = frequency, HLL =
# distinct, this = quantiles): a fixed-domain 64-bin histogram whose
# per-partition partials merge by integer addition (what map-side
# combine already does), with quantile estimates read off the merged
# cumulative by linear interpolation. Bin width 500/64 = 7.8125 is an
# exact binary fraction, so every edge is exact in double and the two
# engines bucket identically. The accuracy contract |est − exact| ≤ 2
# bins is EMITTED as a boolean the oracle asserts as literal TRUE —
# each engine checks the estimate against ITS OWN exact percentile
# (Spark percentile() vs DuckDB quantile_cont), so the bound is
# verified twice, independently.

_QH_BINS = 64
_QH_LO = 0.0
_QH_HI = 500.0
_QH_W = (_QH_HI - _QH_LO) / _QH_BINS
_QH_QS = (0.5, 0.9, 0.99)


def event_value_quantile_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    # explicit floor-bucketing (not width_bucket) so the bucket edge
    # arithmetic is the LITERALLY identical double expression in both
    # engines — no boundary-ulp divergence between bucketing internals
    b = F.least(
        F.greatest(
            F.floor(
                (F.col("value") - F.lit(_QH_LO)) / F.lit(_QH_W)
            ).cast("int")
            + F.lit(1),
            F.lit(1),
        ),
        F.lit(_QH_BINS),
    )
    hist = e.select(b.cast("int").alias("bucket")).groupBy("bucket").agg(
        F.count("*").alias("cnt")
    )
    wcum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    hist = hist.select(
        "bucket", "cnt", F.sum("cnt").over(wcum).alias("cum")
    ).withColumn("cum_prev", F.col("cum") - F.col("cnt"))

    exact = e.agg(
        F.count("*").alias("n_total"),
        F.expr(
            "percentile(value, array("
            + ",".join(str(q) for q in _QH_QS)
            + "))"
        ).alias("exacts"),
    )
    qs = exact.select(
        "n_total",
        F.posexplode(F.array(*[F.lit(q) for q in _QH_QS])).alias("i", "q"),
        F.col("exacts"),
    ).select(
        "q",
        "n_total",
        (F.col("q") * F.col("n_total").cast("double")).alias("target"),
        F.expr("exacts[i]").alias("exact_val"),
    )
    est = (
        qs.join(
            F.broadcast(hist),
            (F.col("cum").cast("double") >= F.col("target"))
            & (F.col("cum_prev").cast("double") < F.col("target")),
        )
        .select(
            "q",
            F.col("n_total").cast("long").alias("n_total"),
            F.round(
                F.lit(_QH_LO)
                + (F.col("bucket") - 1).cast("double") * F.lit(_QH_W)
                + F.lit(_QH_W)
                * (F.col("target") - F.col("cum_prev").cast("double"))
                / F.col("cnt").cast("double"),
                6,
            ).alias("est"),
            F.col("exact_val"),
        )
        .select(
            "q",
            "n_total",
            "est",
            (
                F.abs(F.col("est") - F.col("exact_val"))
                <= F.lit(2 * _QH_W)
            ).alias("within_two_bins"),
        )
    )
    return est


def _quantile_hist_sql() -> str:
    qrows = ", ".join(f"({q})" for q in _QH_QS)
    return f"""
WITH hist AS (
  SELECT least(greatest(CAST(floor((value - {_QH_LO}) / {_QH_W}) AS INTEGER) + 1,
                        1),
               {_QH_BINS}) AS bucket,
         count(*) AS cnt
  FROM events GROUP BY 1
),
cum AS (
  SELECT bucket, cnt,
         sum(cnt) OVER (ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER (ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt
           AS cum_prev
  FROM hist
),
tot AS (
  SELECT count(*) AS n_total,
         quantile_cont(value, 0.5) AS ex50,
         quantile_cont(value, 0.9) AS ex90,
         quantile_cont(value, 0.99) AS ex99
  FROM events
),
qs AS (
  SELECT CAST(q AS DOUBLE) AS q,
         n_total,
         CAST(q AS DOUBLE) * CAST(n_total AS DOUBLE) AS target,
         CASE q WHEN 0.5 THEN ex50 WHEN 0.9 THEN ex90 ELSE ex99 END AS exact_val
  FROM (VALUES {qrows}) AS v(q) CROSS JOIN tot
),
est AS (
  SELECT q, n_total,
         round({_QH_LO} + CAST(bucket - 1 AS DOUBLE) * {_QH_W}
               + {_QH_W} * (target - CAST(cum_prev AS DOUBLE))
                 / CAST(cnt AS DOUBLE), 6) AS est,
         exact_val
  FROM qs JOIN cum ON CAST(cum AS DOUBLE) >= target
                  AND CAST(cum_prev AS DOUBLE) < target
)
SELECT q, CAST(n_total AS BIGINT) AS n_total, est,
       abs(est - exact_val) <= {2 * _QH_W} AS within_two_bins
FROM est
"""


# ---------- sliding-window distinct users ----------
#
# COUNT DISTINCT over a sliding window is the aggregation the tumbling
# ``F.window`` family cannot express (distinct does not merge across
# overlapping panes). The exact scalable form: dedupe to (user, day),
# expand each active day to the 7 window-ends it participates in (a
# BOUNDED ×7 blowup, independent of row count — the raw fact table is
# deduped FIRST), dedupe (user, window_end), count. At larger windows
# the same shape holds with a W× bound, and beyond that the HLL-merge
# family (approx_aggregates / event_user_distinct_sketch_merge) is the
# documented approximate path.

def sliding_week_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    ud = e.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    maxd = ud.agg(F.max("day").alias("maxd"))
    expanded = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add("day", 6))
        ).alias("window_end"),
    ).distinct()
    return (
        expanded.crossJoin(F.broadcast(maxd))
        .filter(F.col("window_end") <= F.col("maxd"))
        .groupBy("window_end")
        .agg(F.count("*").cast("long").alias("n_distinct_users"))
    )


SLIDING_WEEK_DISTINCT_USERS_SQL = """
WITH ud AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
maxd AS (SELECT max(day) AS maxd FROM ud),
expanded AS (
  SELECT DISTINCT user_id, CAST(wend AS DATE) AS window_end
  FROM ud, unnest(generate_series(day, day + 6, INTERVAL 1 DAY)) AS t(wend)
)
SELECT window_end, CAST(count(*) AS BIGINT) AS n_distinct_users
FROM expanded CROSS JOIN maxd
WHERE window_end <= maxd
GROUP BY window_end
"""


# ---------- trigram fuzzy lookup ----------
#
# pg_trgm-style typo-tolerant retrieval: the query string's character
# trigrams are a LITERAL set compiled into the plan, the name side
# builds its trigram relation JVM-side (sequence + substring — no
# UDF), candidates are names sharing at least one trigram, ranked by
# exact trigram Jaccard. 100 TB posture: the query-trigram filter is a
# pushed IN-list, so only rows containing some query trigram survive
# the scan side of the aggregate; the inverted-index build is one
# bounded (×|name|−2) explode.

_TRGM_QUERY = "smal ribg"  # typo'd "small ring"


def _trigrams(s: str) -> list[str]:
    return sorted({s[i : i + 3] for i in range(len(s) - 2)})


_TRGM_Q_SET = _trigrams(_TRGM_QUERY.lower())


def part_trigram_fuzzy_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    tris = p.selectExpr(
        "p_partkey",
        "explode(array_distinct(transform("
        "  sequence(1, length(lower(p_name)) - 2),"
        "  i -> substring(lower(p_name), i, 3)))) AS tri",
    )
    sizes = tris.groupBy("p_partkey").agg(F.count("*").alias("n_tri"))
    matched = (
        tris.filter(F.col("tri").isin(_TRGM_Q_SET))
        .groupBy("p_partkey")
        .agg(F.count("*").alias("n_common"))
    )
    nq = len(_TRGM_Q_SET)
    return (
        matched.join(sizes, "p_partkey")
        .join(
            _t(spark, sf_dir, "part").select("p_partkey", "p_name"),
            "p_partkey",
        )
        .select(
            "p_partkey",
            "p_name",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(
                F.col("n_common")
                / (F.col("n_tri") + F.lit(nq) - F.col("n_common")),
                6,
            ).alias("similarity"),
        )
        .orderBy(F.col("similarity").desc(), "p_partkey")
        .limit(10)
    )


def _trigram_sql() -> str:
    qlist = ", ".join("'" + t.replace("'", "''") + "'" for t in _TRGM_Q_SET)
    nq = len(_TRGM_Q_SET)
    return f"""
WITH tris AS (
  SELECT p_partkey,
         unnest(list_distinct(
           [substr(lower(p_name), i, 3)
            FOR i IN range(1, len(lower(p_name)) - 1)])) AS tri
  FROM part
),
sizes AS (SELECT p_partkey, count(*) AS n_tri FROM tris GROUP BY 1),
matched AS (
  SELECT p_partkey, count(*) AS n_common
  FROM tris WHERE tri IN ({qlist}) GROUP BY 1
)
SELECT p_partkey, p_name,
       CAST(n_common AS BIGINT) AS n_common,
       round(n_common / (n_tri + {nq} - n_common), 6) AS similarity
FROM matched JOIN sizes USING (p_partkey) JOIN part USING (p_partkey)
ORDER BY similarity DESC, p_partkey
LIMIT 10
"""


# ---------- seasonal index ----------

def orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonal revenue index (12 × month share of
    total): the classic demand-planning profile. Decimal-exact sums;
    the single double division per month is the only float op; totals
    ride an in-plan broadcast 1-row fold."""
    o = _t(spark, sf_dir, "orders")
    per_m = o.groupBy(F.month("o_orderdate").alias("month")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
    )
    tot = per_m.agg(F.sum("rev").alias("tot_rev"))
    return per_m.crossJoin(F.broadcast(tot)).select(
        F.col("month").cast("long").alias("month"),
        "n_orders",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.lit(12.0)
            * F.col("rev").cast("double")
            / F.col("tot_rev").cast("double"),
            6,
        ).alias("seasonal_index"),
    )


ORDERS_SEASONAL_INDEX_SQL = """
WITH per_m AS (
  SELECT month(o_orderdate) AS month,
         CAST(count(*) AS BIGINT) AS n_orders,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
),
tot AS (SELECT sum(rev) AS tot_rev FROM per_m)
SELECT CAST(month AS BIGINT) AS month, n_orders,
       CAST(rev AS DOUBLE) AS revenue,
       round(12.0 * CAST(rev AS DOUBLE) / CAST(tot_rev AS DOUBLE), 6)
         AS seasonal_index
FROM per_m CROSS JOIN tot
"""


# ---------- median absolute deviation ----------

def orders_value_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion per order status: MAD = median(|x − median|).
    Two exact-percentile aggregates with a broadcast median join
    between them — the robust counterpart to stddev-based profiling
    (statistical_aggregates), insensitive to the heavy right tail of
    order totals. Each engine computes its OWN exact interpolated
    median (Spark percentile() vs DuckDB quantile_cont), so agreement
    at 6dp also cross-checks the two implementations."""
    o = _t(spark, sf_dir, "orders")
    med = o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med")
    )
    return (
        o.join(F.broadcast(med), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.min("med"), 6).alias("median_price"),
            F.round(
                F.expr("percentile(abs(o_totalprice - med), 0.5)"), 6
            ).alias("mad_price"),
        )
    )


ORDERS_VALUE_MAD_SQL = """
WITH med AS (
  SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med
  FROM orders GROUP BY 1
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(min(med), 6) AS median_price,
       round(quantile_cont(abs(o_totalprice - med), 0.5), 6) AS mad_price
FROM orders JOIN med USING (o_orderstatus)
GROUP BY o_orderstatus
"""


# ---------- burst detection ----------
#
# Max event count in any trailing 10-minute window per user — the
# rate-anomaly screen behind abuse/alerting rules. A RANGE frame over
# epoch seconds (both engines FLOOR the timestamp to whole seconds, so
# the frames agree exactly); state per key is bounded by the window
# span, which is what makes the same construct feasible as a streaming
# watermarked aggregate. Peers at the same second are handled by the
# set semantics of RANGE — no tie-break needed.

def event_burst_max_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("epoch"))
        .rangeBetween(-600, 0)
    )
    return (
        e.select("user_id", epoch.alias("epoch"))
        .select("user_id", F.count("*").over(w).alias("burst"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.max("burst").cast("long").alias("max_burst_10min"),
        )
    )


EVENT_BURST_MAX_10MIN_SQL = """
WITH w AS (
  SELECT user_id,
         count(*) OVER (
           PARTITION BY user_id
           ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
           RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS burst
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(burst) AS BIGINT) AS max_burst_10min
FROM w GROUP BY user_id
"""


# ---------- Benford first-digit forensics ----------
#
# Data-forensics screen: the first-significant-digit distribution of
# extended prices vs Benford's law, with the chi-square decomposition
# per digit. The digit is extracted through integer/string arithmetic
# (never log10 of the value, whose libm rounding could flip a boundary
# power of ten); the nine expected shares are compile-time literals
# shared by both engines; one 9-key aggregate — map-side partials do
# all the work at any scale.

import math as _math

_BENFORD_SHARES = {d: _math.log10(1 + 1 / d) for d in range(1, 10)}


def lineitem_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") >= 1)
    digit = F.substring(
        F.floor("l_extendedprice").cast("long").cast("string"), 1, 1
    ).cast("int")
    obs = l.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n_observed")
    )
    tot = obs.agg(F.sum("n_observed").alias("n"))
    share = F.create_map(
        *[
            x
            for d, s in sorted(_BENFORD_SHARES.items())
            for x in (F.lit(d), F.lit(s))
        ]
    )
    exp_n = F.col("n").cast("double") * share[F.col("digit")]
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            F.col("digit").cast("long").alias("digit"),
            F.col("n_observed").cast("long").alias("n_observed"),
            F.round(share[F.col("digit")], 6).alias("expected_share"),
            F.round(
                (F.col("n_observed").cast("double") - exp_n)
                * (F.col("n_observed").cast("double") - exp_n)
                / exp_n,
                6,
            ).alias("chi2_contrib"),
        )
    )


def _benford_sql() -> str:
    cases = " ".join(
        f"WHEN {d} THEN {s!r}" for d, s in sorted(_BENFORD_SHARES.items())
    )
    # the CAST matters: DuckDB types a bare float literal as DECIMAL,
    # and decimal arithmetic would diverge from Spark's double math
    share = f"(CAST(CASE digit {cases} END AS DOUBLE))"
    return f"""
WITH obs AS (
  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INTEGER) AS digit,
         count(*) AS n_observed
  FROM lineitem WHERE l_extendedprice >= 1
  GROUP BY 1
),
tot AS (SELECT sum(n_observed) AS n FROM obs)
SELECT CAST(digit AS BIGINT) AS digit,
       CAST(n_observed AS BIGINT) AS n_observed,
       round({share}, 6) AS expected_share,
       round((CAST(n_observed AS DOUBLE) - CAST(n AS DOUBLE) * {share})
             * (CAST(n_observed AS DOUBLE) - CAST(n AS DOUBLE) * {share})
             / (CAST(n AS DOUBLE) * {share}), 6) AS chi2_contrib
FROM obs CROSS JOIN tot
"""


# ---------- Zipf rank-frequency fit ----------
#
# The corpus-statistics law check: OLS of ln(frequency) on ln(rank)
# over the vocabulary — a healthy natural-language corpus fits slope
# ≈ −1; scraped boilerplate and template spam bend it. The regression
# runs on the vocabulary relation (bounded, not corpus-sized); its
# four OLS sums use the repo's 9dp-round → DECIMAL(28,9) idiom so no
# float summation order exists anywhere; the rank window is a
# vocabulary-sized sort, documented like the other dimension-bounded
# windows.

def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    wr = Window.orderBy(F.col("freq").desc(), F.col("word"))
    xy = vocab.select(
        F.log(F.row_number().over(wr).cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    dec = "decimal(28,9)"
    sums = xy.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.round(F.col("x"), 9).cast(dec)).cast("double").alias("sx"),
        F.sum(F.round(F.col("y"), 9).cast(dec)).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 9).cast(dec))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 9).cast(dec))
        .cast("double")
        .alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("n").cast("long").alias("n_vocab"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n"), 6
        ).alias("intercept"),
    )


TEXT_ZIPF_FIT_SQL = f"""
WITH docs AS (SELECT {NORM_SQL} AS norm FROM documents),
vocab AS (
  SELECT word, count(*) AS freq
  FROM docs, unnest(string_split(norm, ' ')) AS t(word)
  WHERE norm <> ''
  GROUP BY 1
),
xy AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, word) AS DOUBLE)) AS x,
         ln(CAST(freq AS DOUBLE)) AS y
  FROM vocab
),
sums AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(round(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
         CAST(sum(CAST(round(y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
         CAST(sum(CAST(round(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx
  FROM xy
)
SELECT CAST(n AS BIGINT) AS n_vocab,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept
FROM sums
"""


# ---------- label centroid geometry ----------
#
# Per-label embedding centroids and their pairwise cosines — the
# "are my classes separable?" screen for labeled vector corpora. The
# vector aggregation is EXACT: components are 9dp-rounded and summed
# as DECIMAL(18,9) keyed by (label, position) — a distributed
# elementwise mean with no float summation order — and the pairwise
# dot/norm sums reuse the same position-keyed exact-sum shape. Scale:
# everything after the one fact shuffle is |labels|·dims rows.

def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    dec = "decimal(18,9)"
    ex = emb.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    )
    cent = (
        ex.groupBy("label", "pos")
        .agg(
            F.sum(F.round(F.col("x").cast("double"), 9).cast(dec)).alias("sx"),
            F.count("*").alias("nv"),
        )
        .select(
            "label",
            "pos",
            (F.col("sx").cast("double") / F.col("nv").cast("double")).alias(
                "c"
            ),
            "nv",
        )
        .persist()
    )
    a = cent.select(
        F.col("label").alias("label1"),
        "pos",
        F.col("c").alias("ca"),
        F.col("nv").alias("n1"),
    )
    b = cent.select(
        F.col("label").alias("label2"),
        "pos",
        F.col("c").alias("cb"),
        F.col("nv").alias("n2"),
    )
    dots = (
        a.join(b, "pos")
        .filter(F.col("label1") < F.col("label2"))
        .groupBy("label1", "label2", "n1", "n2")
        .agg(
            F.sum(F.round(F.col("ca") * F.col("cb"), 9).cast(dec))
            .cast("double")
            .alias("dot")
        )
    )
    norms = cent.groupBy("label").agg(
        F.sum(F.round(F.col("c") * F.col("c"), 9).cast(dec))
        .cast("double")
        .alias("nrm")
    )
    na = norms.select(F.col("label").alias("label1"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("label").alias("label2"), F.col("nrm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "label1")
        .join(F.broadcast(nb), "label2")
        .select(
            F.col("label1").cast("long").alias("label1"),
            F.col("label2").cast("long").alias("label2"),
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.round(
                F.col("dot") / F.sqrt(F.col("na") * F.col("nb")), 6
            ).alias("centroid_cosine"),
        )
    )


EMBEDDING_LABEL_CENTROIDS_SQL = """
WITH ex AS (
  SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
cent AS (
  SELECT label, pos,
         CAST(sum(CAST(round(x, 9) AS DECIMAL(18,9))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS c,
         count(*) AS nv
  FROM ex GROUP BY 1, 2
),
dots AS (
  SELECT a.label AS label1, b.label AS label2, a.nv AS n1, b.nv AS n2,
         CAST(sum(CAST(round(a.c * b.c, 9) AS DECIMAL(18,9))) AS DOUBLE)
           AS dot
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
  GROUP BY 1, 2, 3, 4
),
norms AS (
  SELECT label,
         CAST(sum(CAST(round(c * c, 9) AS DECIMAL(18,9))) AS DOUBLE) AS nrm
  FROM cent GROUP BY 1
)
SELECT CAST(label1 AS BIGINT) AS label1,
       CAST(label2 AS BIGINT) AS label2,
       CAST(n1 AS BIGINT) AS n1,
       CAST(n2 AS BIGINT) AS n2,
       round(dot / sqrt(na.nrm * nb.nrm), 6) AS centroid_cosine
FROM dots
JOIN norms na ON dots.label1 = na.label
JOIN norms nb ON dots.label2 = nb.label
"""


# ---------- CUSUM changepoint ----------
#
# Level-shift detection over the daily revenue series: the CUSUM
# statistic S_k = Σ_{d≤k}(x_d − x̄) peaks (in absolute value) at the
# most likely changepoint. Determinism: the daily series is an exact
# DECIMAL aggregate, its running sum is an exact decimal window, and
# S_k needs exactly two float ops (one division for the mean, one
# subtraction) — no float accumulation anywhere. The windowed stage
# runs on the DAY relation (calendar-bounded, ~2.4k rows regardless of
# fact size), the same dimension-bounded-window posture as the Pareto
# frontier.

def orders_revenue_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    tot = daily.agg(
        F.sum("rev").alias("total"), F.count("*").alias("n_days")
    )
    s = (
        daily.select(
            "day",
            F.sum("rev").over(wcum).alias("cum"),
            F.row_number().over(Window.orderBy("day")).alias("k"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "day",
            "n_days",
            (
                F.col("cum").cast("double")
                - F.col("k").cast("double")
                * F.col("total").cast("double")
                / F.col("n_days").cast("double")
            ).alias("s_k"),
        )
    )
    return (
        s.orderBy(F.abs(F.col("s_k")).desc(), "day")
        .limit(1)
        .select(
            F.col("day").alias("change_day"),
            F.col("n_days").cast("long").alias("n_days"),
            F.round(F.abs(F.col("s_k")), 6).alias("cusum_stat"),
        )
    )


ORDERS_REVENUE_CHANGEPOINT_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
),
tot AS (SELECT sum(rev) AS total, count(*) AS n_days FROM daily),
s AS (
  SELECT day, n_days,
         CAST(sum(rev) OVER (ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE)
         - CAST(row_number() OVER (ORDER BY day) AS DOUBLE)
           * CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE) AS s_k
  FROM daily CROSS JOIN tot
)
SELECT day AS change_day,
       CAST(n_days AS BIGINT) AS n_days,
       round(abs(s_k), 6) AS cusum_stat
FROM s
ORDER BY abs(s_k) DESC, day
LIMIT 1
"""


# ---------- behavioral entropy ----------

def event_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix, plus the
    normalized form H/ln(k) — the behavioral-diversity profile
    (bots concentrate, humans spread). One fact shuffle to (user,
    type); entropy terms are 9dp-rounded and summed as DECIMAL(18,9)
    per user, so no float summation order; single-type users define
    normalized entropy as 0."""
    e = _t(spark, sf_dir, "events")
    ut = e.groupBy("user_id", "event_type").agg(F.count("*").alias("n_e"))
    per_u = ut.groupBy("user_id").agg(
        F.sum("n_e").alias("n_u"), F.count("*").alias("n_types")
    )
    p = F.col("n_e").cast("double") / F.col("n_u").cast("double")
    term = F.round(-p * F.log(p), 9).cast("decimal(18,9)")
    ent = (
        ut.join(per_u, "user_id")
        .groupBy("user_id", "n_u", "n_types")
        .agg(F.sum(term).cast("double").alias("h"))
    )
    return ent.select(
        "user_id",
        F.col("n_u").cast("long").alias("n_events"),
        F.col("n_types").cast("long").alias("n_types"),
        F.round(F.col("h"), 6).alias("entropy"),
        F.when(F.col("n_types") > 1, F.round(
            F.col("h") / F.log(F.col("n_types").cast("double")), 6
        )).otherwise(F.lit(0.0)).alias("norm_entropy"),
    )


EVENT_USER_ENTROPY_SQL = """
WITH ut AS (
  SELECT user_id, event_type, count(*) AS n_e
  FROM events GROUP BY 1, 2
),
per_u AS (
  SELECT user_id, sum(n_e) AS n_u, count(*) AS n_types FROM ut GROUP BY 1
),
ent AS (
  SELECT user_id, n_u, n_types,
         CAST(sum(CAST(round(-(CAST(n_e AS DOUBLE) / CAST(n_u AS DOUBLE))
                              * ln(CAST(n_e AS DOUBLE) / CAST(n_u AS DOUBLE)), 9)
                        AS DECIMAL(18,9))) AS DOUBLE) AS h
  FROM ut JOIN per_u USING (user_id)
  GROUP BY 1, 2, 3
)
SELECT user_id,
       CAST(n_u AS BIGINT) AS n_events,
       CAST(n_types AS BIGINT) AS n_types,
       round(h, 6) AS entropy,
       CASE WHEN n_types > 1
            THEN round(h / ln(CAST(n_types AS DOUBLE)), 6)
            ELSE 0.0 END AS norm_entropy
FROM ent
"""


# ---------- Flesch reading ease ----------
#
# Readability profiling per source: sentences from RAW punctuation
# (normalization would erase it), words from the shared normalized
# tokenizer, syllables approximated as vowel-group runs (the standard
# heuristic) — one regexp_extract_all per word, all JVM/native. Per-doc
# scores are a fixed double expression; the per-source mean uses the
# 6dp-round → decimal-sum idiom. The explode is corpus-sized but
# aggregates straight back to (source): one shuffle.

def text_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    d = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    sentences = F.size(
        F.filter(
            F.split("text", r"[.!?]+"), lambda s: F.trim(s) != ""
        )
    )
    base = d.select(
        "doc_id",
        "source",
        F.greatest(sentences, F.lit(1)).alias("n_sent"),
        tokens("text").alias("toks"),
    ).filter(F.size("toks") > 0)
    words = base.select(
        "doc_id", "source", "n_sent",
        F.size("toks").alias("n_words"),
        F.explode("toks").alias("word"),
    )
    syl = F.greatest(
        F.size(F.expr("regexp_extract_all(word, '[aeiouy]+', 0)")), F.lit(1)
    )
    per_doc = words.groupBy("doc_id", "source", "n_sent", "n_words").agg(
        F.sum(syl).alias("n_syl")
    )
    fre = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words").cast("double") / F.col("n_sent").cast("double"))
        - F.lit(84.6)
        * (F.col("n_syl").cast("double") / F.col("n_words").cast("double"))
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(
            F.sum(F.round(fre, 6).cast("decimal(18,6)")).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("avg_flesch"),
        F.round(F.min(fre), 6).alias("min_flesch"),
    )


TEXT_READABILITY_FK_SQL = f"""
WITH d AS (
  SELECT doc_id, source, text, {NORM_SQL} AS norm
  FROM documents WHERE lang = 'en'
),
base AS (
  SELECT doc_id, source,
         greatest(len(list_filter(string_split_regex(text, '[.!?]+'),
                                  s -> trim(s) <> '')), 1) AS n_sent,
         string_split(norm, ' ') AS toks
  FROM d WHERE norm <> ''
),
words AS (
  SELECT doc_id, source, n_sent, len(toks) AS n_words,
         unnest(toks) AS word
  FROM base
),
per_doc AS (
  SELECT doc_id, source, n_sent, n_words,
         sum(greatest(len(regexp_extract_all(word, '[aeiouy]+')), 1)) AS n_syl
  FROM words GROUP BY 1, 2, 3, 4
),
scored AS (
  SELECT source,
         206.835
         - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sent AS DOUBLE))
         - 84.6 * (CAST(n_syl AS DOUBLE) / CAST(n_words AS DOUBLE)) AS fre
  FROM per_doc
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(CAST(round(fre, 6) AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS avg_flesch,
       round(min(fre), 6) AS min_flesch
FROM scored GROUP BY 1
"""


# ---------- power-law degree fit ----------

def copurchase_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill MLE for the co-purchase degree distribution tail:
    α = 1 + n_tail / Σ ln(d_i / d_min) over nodes with degree ≥ d_min
    (= 2). The scale-free-network companion to the Zipf fit — a healthy
    co-occurrence graph is heavy-tailed; a bot-stuffed one is not. The
    ln sums use the 9dp-round decimal idiom; everything after the pair
    build is |nodes| rows."""
    pairs = copurchase_part_pairs(spark, sf_dir)
    deg = (
        pairs.select(F.col("part1").alias("node"))
        .union(pairs.select(F.col("part2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    dmin = 2
    tail = deg.filter(F.col("d") >= dmin)
    lnterm = F.round(
        F.log(F.col("d").cast("double") / F.lit(float(dmin))), 9
    ).cast("decimal(18,9)")
    lnsum = F.sum(lnterm).cast("double")
    # a degenerate tail (every degree == d_min) has no defined exponent
    return tail.agg(
        F.count("*").cast("long").alias("n_tail"),
        F.max("d").cast("long").alias("max_degree"),
        F.when(
            lnsum > 0,
            F.round(F.lit(1.0) + F.count("*").cast("double") / lnsum, 6),
        ).alias("alpha"),
    )


COPURCHASE_DEGREE_POWERLAW_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part1, b.l_partkey AS part2
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 3
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT part1 AS node FROM pairs
    UNION ALL
    SELECT part2 AS node FROM pairs
  ) GROUP BY 1
),
tail AS (SELECT d FROM deg WHERE d >= 2)
SELECT CAST(count(*) AS BIGINT) AS n_tail,
       CAST(max(d) AS BIGINT) AS max_degree,
       CASE WHEN CAST(sum(CAST(round(ln(CAST(d AS DOUBLE) / 2.0), 9)
                              AS DECIMAL(18,9))) AS DOUBLE) > 0
            THEN round(1.0 + CAST(count(*) AS DOUBLE)
                       / CAST(sum(CAST(round(ln(CAST(d AS DOUBLE) / 2.0), 9)
                                       AS DECIMAL(18,9))) AS DOUBLE), 6)
            END AS alpha
FROM tail
"""


QUERIES = {
    "ivm_join_delta": (ivm_join_delta, IVM_JOIN_DELTA_SQL),
    "text_readability_fk": (text_readability_fk, TEXT_READABILITY_FK_SQL),
    "copurchase_degree_powerlaw": (
        copurchase_degree_powerlaw,
        COPURCHASE_DEGREE_POWERLAW_SQL,
    ),
    "orders_revenue_changepoint": (
        orders_revenue_changepoint,
        ORDERS_REVENUE_CHANGEPOINT_SQL,
    ),
    "event_user_entropy": (event_user_entropy, EVENT_USER_ENTROPY_SQL),
    "event_burst_max_10min": (event_burst_max_10min, EVENT_BURST_MAX_10MIN_SQL),
    "lineitem_benford_digits": (lineitem_benford_digits, _benford_sql()),
    "text_zipf_fit": (text_zipf_fit, TEXT_ZIPF_FIT_SQL),
    "embedding_label_centroids": (
        embedding_label_centroids,
        EMBEDDING_LABEL_CENTROIDS_SQL,
    ),
    "sliding_week_distinct_users": (
        sliding_week_distinct_users,
        SLIDING_WEEK_DISTINCT_USERS_SQL,
    ),
    "part_trigram_fuzzy_lookup": (
        part_trigram_fuzzy_lookup,
        _trigram_sql(),
    ),
    "orders_seasonal_index": (orders_seasonal_index, ORDERS_SEASONAL_INDEX_SQL),
    "orders_value_mad": (orders_value_mad, ORDERS_VALUE_MAD_SQL),
    "orders_priority_status_mi": (
        orders_priority_status_mi,
        ORDERS_PRIORITY_STATUS_MI_SQL,
    ),
    "lineitem_business_days": (
        lineitem_business_days,
        LINEITEM_BUSINESS_DAYS_SQL,
    ),
    "event_value_quantile_histogram": (
        event_value_quantile_histogram,
        _quantile_hist_sql(),
    ),
    "order_proration_largest_remainder": (
        order_proration_largest_remainder,
        ORDER_PRORATION_SQL,
    ),
    "part_pareto_frontier": (part_pareto_frontier, PART_PARETO_FRONTIER_SQL),
    "bloom_filter_semi_join": (bloom_filter_semi_join, _bloom_sql()),
    "dedup_prefix_filter_jaccard": (
        dedup_prefix_filter_jaccard,
        DEDUP_PREFIX_FILTER_JACCARD_SQL,
    ),
    "copurchase_bfs_hops": (copurchase_bfs_hops, COPURCHASE_BFS_HOPS_SQL),
    "text_rake_keywords": (text_rake_keywords, TEXT_RAKE_KEYWORDS_SQL),
    "corpus_global_shuffle": (corpus_global_shuffle, CORPUS_GLOBAL_SHUFFLE_SQL),
}
