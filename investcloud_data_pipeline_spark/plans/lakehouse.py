"""Lakehouse & governance queries: CDC merge, SCD2 history, PII
redaction, URL parsing, fuzzy entity resolution, embedding statistics.

These cover the mutation / compliance surface a production lake needs
around the analytic core: Delta-style MERGE re-expressed on plain
parquet (operators/merge.py), Type-2 dimensions, regex PII scrubbing
(operators/pii.py), and blocked record linkage (operators/er.py).

Oracle convention (PAPERS.md / training_data.py): the DuckDB SQL
restates the identical computation — same regexes (Java/RE2 shared
subset), same tie-breaks, same rounding — so the value-hash comparison
is strict.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import er as ER
from ..operators import merge as MG
from ..operators import pii as PII
from ..sources.batch import load_table
from ..stores import session_store


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------- session-scoped ER stores (round-12 optimization) ----------
#
# The fuzzy pair relation and its connected-components closure are the
# shared upstream of the whole ER family (pair evidence → entities →
# golden record). The components job is ITERATIVE (min-label
# propagation, one join+agg per round), so re-running it per consumer
# is the single biggest avoidable cost in the family (guide §2.4:
# write-once shared artifact instead of a per-query recompute).

@session_store
def er_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped ``er_fuzzy_part_pairs`` relation (full schema)."""
    return er_fuzzy_part_pairs(spark, sf_dir).localCheckpoint(eager=True)


@session_store
def er_components_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped (node, component) closure of the fuzzy pair
    graph — the iterative CC job runs once per session."""
    from ..operators.graph import connected_components

    pairs = er_pairs_cached(spark, sf_dir).select("name1", "name2")
    return connected_components(
        pairs, src="name1", dst="name2"
    ).localCheckpoint(eager=True)


# ---------- PII redaction ----------
#
# The synthetic documents table carries no real PII, so the query plants
# deterministic PII fragments (varying per doc_id so counts differ) and
# then redacts them — the assertion covers detection counts AND the
# masked text (md5, to keep the compared rows narrow).

def pii_redact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    frag_email = F.when(
        did % 3 > 0,
        F.concat(F.lit(" mail user"), did, F.lit("@mail.example.org")),
    ).otherwise(F.lit(""))
    frag_phone = F.when(
        did % 4 > 0,
        F.concat(F.lit(" tel 555-123-"), F.lpad((did % 10000).cast("string"), 4, "0")),
    ).otherwise(F.lit(""))
    frag_ip = F.when(
        did % 5 > 0,
        F.concat(F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".7")),
    ).otherwise(F.lit(""))
    frag_ssn = F.when(
        did % 7 == 0,
        F.concat(F.lit(" ssn 987-65-"), F.lpad((did % 10000).cast("string"), 4, "0")),
    ).otherwise(F.lit(""))
    planted = d.withColumn(
        "text",
        F.concat(
            F.substring("text", 1, 40), frag_email, frag_phone, frag_ip, frag_ssn
        ),
    )
    return PII.redact_pii(planted).select(
        "doc_id",
        "n_email",
        "n_ssn",
        "n_phone",
        "n_ipv4",
        "n_pii",
        F.md5("redacted").alias("redacted_md5"),
    )


PII_REDACT_DOCUMENTS_SQL = r"""
WITH planted AS (
  SELECT doc_id,
         substr(text, 1, 40)
         || CASE WHEN doc_id % 3 > 0 THEN ' mail user' || doc_id || '@mail.example.org' ELSE '' END
         || CASE WHEN doc_id % 4 > 0 THEN ' tel 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         || CASE WHEN doc_id % 5 > 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' ssn 987-65-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
       CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
          + len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b'))
          + len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))
          + len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_pii,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
               '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS redacted_md5
FROM planted
"""


# ---------- URL parsing / domain stats ----------

def url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises Spark's ``parse_url`` (HOST / PATH / QUERY-param
    extraction) over deterministic synthetic URLs, rolled up per host.
    Scale: narrow projection + one small-key aggregation."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id"),
        F.lit("?lang="),
        F.col("lang"),
    )
    u = d.select(
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )
    return u.groupBy("host").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("path").alias("n_paths"),
        F.countDistinct("lang_param").alias("n_langs"),
        F.min("path").alias("first_path"),
    )


URL_DOMAIN_STATS_SQL = """
WITH u AS (
  SELECT 'https://' || source || '.example.com/docs/' || doc_id || '?lang=' || lang AS url
  FROM documents
), parts AS (
  SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host,
         regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
         regexp_extract(url, 'lang=(.*)$', 1) AS lang_param
  FROM u
)
SELECT host,
       count(*) AS n_urls,
       CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
       CAST(count(DISTINCT lang_param) AS BIGINT) AS n_langs,
       min(path) AS first_path
FROM parts GROUP BY host
"""


# ---------- fuzzy entity resolution ----------

def er_fuzzy_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage over part names: first collapse records to
    DISTINCT name strings (the classic ER reduction — candidate
    generation runs over unique keys, never raw records, so a 100 TB
    fact table with a low-cardinality entity key costs one aggregate
    plus a tiny pair join), then block on the noun (second token) and
    score within-block pairs with Levenshtein ≤ 4. Record multiplicity
    is carried as n_recs per side."""
    p = _t(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.count("*").alias("n_recs"))
    pairs = ER.fuzzy_self_join(
        names,
        id_col="p_name",
        name_col="p_name",
        block_expr=F.element_at(F.split(F.col("p_name"), " "), 2),
        max_distance=4,
    ).select("name1", "name2", "block", "distance")
    n1 = names.select(
        F.col("p_name").alias("name1"), F.col("n_recs").alias("n_recs1")
    )
    n2 = names.select(
        F.col("p_name").alias("name2"), F.col("n_recs").alias("n_recs2")
    )
    return pairs.join(n1, "name1").join(n2, "name2").select(
        "name1", "name2", "block", "distance", "n_recs1", "n_recs2"
    )


ER_FUZZY_PART_PAIRS_SQL = """
WITH names AS (
  SELECT p_name, count(*) AS n_recs FROM part GROUP BY p_name
), side AS (
  SELECT p_name AS name, n_recs, string_split(p_name, ' ')[2] AS block
  FROM names
)
SELECT a.name AS name1, b.name AS name2, a.block AS block,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS distance,
       a.n_recs AS n_recs1, b.n_recs AS n_recs2
FROM side a JOIN side b ON a.block = b.block AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 4
"""


# ---------- CDC MERGE (upsert + delete application) ----------
#
# The change batch is derived deterministically from orders: every order
# is a change to its customer (op 'D' for orderkey % 11 == 0, else 'U'
# with a payload rebuilt from the order), sequenced by orderkey. The
# result is the merged customer snapshot — Delta MERGE semantics on
# plain parquet.

def cdc_apply_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    changes = o.select(
        F.col("o_custkey").alias("c_custkey"),
        F.concat(
            F.lit("Customer#"), F.lpad(F.col("o_custkey").cast("string"), 9, "0")
        ).alias("c_name"),
        (F.col("o_orderkey") % 25).cast("int").alias("c_nationkey"),
        F.round(F.col("o_totalprice"), 2).alias("c_acctbal"),
        F.col("o_orderpriority").alias("c_mktsegment"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("o_orderkey").alias("seq"),
    )
    return MG.apply_cdc(c, changes, key_cols=["c_custkey"], seq_col="seq")


CDC_APPLY_CUSTOMER_SQL = """
WITH changes AS (
  SELECT o_custkey AS c_custkey,
         'Customer#' || lpad(CAST(o_custkey AS VARCHAR), 9, '0') AS c_name,
         CAST(o_orderkey % 25 AS INTEGER) AS c_nationkey,
         round(o_totalprice, 2) AS c_acctbal,
         o_orderpriority AS c_mktsegment,
         CASE WHEN o_orderkey % 11 = 0 THEN 'D' ELSE 'U' END AS op,
         o_orderkey AS seq
  FROM orders
), last AS (
  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC, op ASC) AS rn
  FROM changes
), l1 AS (SELECT * FROM last WHERE rn = 1)
SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM l1 WHERE l1.c_custkey = c.c_custkey)
UNION ALL
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM l1 WHERE op = 'U'
"""


# ---------- SCD Type 2 dimension history ----------

def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history of each customer's order priority: consecutive
    same-priority orders collapse into one validity interval."""
    o = _t(spark, sf_dir, "orders")
    return MG.scd2_history(
        o,
        key_cols=["o_custkey"],
        attr_cols=["o_orderpriority"],
        ts_col="o_orderdate",
    )


SCD2_PRIORITY_HISTORY_SQL = """
WITH v AS (
  SELECT o_custkey, o_orderpriority, o_orderdate,
         row_number() OVER w AS rn,
         lag(o_orderpriority) OVER w AS prev
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderpriority ASC)
), keep AS (
  SELECT o_custkey, o_orderpriority, o_orderdate
  FROM v WHERE rn = 1 OR prev IS DISTINCT FROM o_orderpriority
)
SELECT o_custkey, o_orderpriority,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderpriority ASC) AS valid_to,
       lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderpriority ASC) IS NULL AS is_current
FROM keep
"""


# ---------- per-dimension embedding statistics ----------

def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-scaling statistics per embedding dimension (posexplode →
    group by position). Scale: the explode multiplies rows by the
    dimensionality but stays narrow (two columns); the aggregate's key
    cardinality IS the dimensionality, so the shuffle is tiny — partial
    aggregation does nearly all the work map-side."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select(F.posexplode("embedding").alias("dim", "val"))
        .select((F.col("dim") + 1).cast("long").alias("dim"),
                F.col("val").cast("double").alias("val"))
        .groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            # +0.0 normalizes IEEE negative zero: at sf0.1 two dims have
            # a mean that rounds to -0.0 in DuckDB but 0.0 in Spark —
            # adding positive zero maps -0.0 → 0.0 on both engines
            # (found by the r6 full-ledger run at sf0.1; sf0.01 never
            # produced a near-zero mean).
            (F.round(F.avg("val"), 4) + F.lit(0.0)).alias("mean_val"),
            F.round(F.min("val"), 6).alias("min_val"),
            F.round(F.max("val"), 6).alias("max_val"),
        )
        .orderBy("dim")
    )


EMBEDDING_DIM_STATS_SQL = """
WITH ex AS (
  SELECT generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
)
SELECT CAST(dim AS BIGINT) AS dim,
       count(*) AS n,
       round(avg(val), 4) + 0.0 AS mean_val,
       round(min(val), 6) AS min_val,
       round(max(val), 6) AS max_val
FROM ex GROUP BY dim ORDER BY dim
"""


# ---------- fixed-bound histogram ----------

def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound 20-bucket histogram of event values via
    ``width_bucket`` (bucket 0 = below range, 21 = above). One narrow
    projection + a 22-key aggregate: map-side partials do everything."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            F.width_bucket(F.col("value"), F.lit(0.0), F.lit(100.0), F.lit(20))
            .cast("long")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_events"))
        .orderBy("bucket")
    )


VALUE_HISTOGRAM_SQL = """
WITH b AS (
  SELECT CASE WHEN value < 0.0 THEN 0
              WHEN value >= 100.0 THEN 21
              ELSE CAST(floor(value / 5.0) AS BIGINT) + 1 END AS bucket
  FROM events
)
SELECT bucket, count(*) AS n_events FROM b GROUP BY bucket ORDER BY bucket
"""


# ---------- declarative DQ expectation suite ----------

def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-test-style check suite over orders: null/domain/range/regex
    checks fused into one scan, uniqueness via one grouped pass,
    referential integrity to customer via one broadcast anti-join —
    a (check, n_violations, passed) report, |checks| rows at any
    table size."""
    from ..operators import expectations as E

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return E.validate(
        o,
        [
            E.not_null("o_custkey"),
            E.not_null("o_orderdate"),
            E.accepted_values("o_orderstatus", ["O", "F", "P"]),
            E.in_range("o_totalprice", 0.0, None),
            E.matches("o_orderpriority", r"^[1-5]-[A-Z ]+$"),
            E.unique("o_orderkey"),
            E.references("o_custkey", c, "c_custkey"),
        ],
    )


DQ_EXPECTATIONS_ORDERS_SQL = r"""
WITH row_checks AS (
  SELECT * FROM (
    VALUES
      ('not_null:o_custkey',
         (SELECT CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) FROM orders)),
      ('not_null:o_orderdate',
         (SELECT CAST(count(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT) FROM orders)),
      ('accepted_values:o_orderstatus',
         (SELECT CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P') OR o_orderstatus IS NULL) AS BIGINT) FROM orders)),
      ('in_range:o_totalprice',
         (SELECT CAST(count(*) FILTER (WHERE o_totalprice < 0.0) AS BIGINT) FROM orders)),
      ('matches:o_orderpriority',
         (SELECT CAST(count(*) FILTER (WHERE o_orderpriority IS NULL OR NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')) AS BIGINT) FROM orders)),
      ('unique:o_orderkey',
         (SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT)
          FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey))),
      ('references:o_custkey->c_custkey',
         (SELECT CAST(count(*) AS BIGINT) FROM orders
          WHERE o_custkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)))
  ) AS t("check", n_violations)
)
SELECT "check", n_violations, n_violations = 0 AS passed FROM row_checks
"""


def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (operators/pii.py) of the customer table under
    the quasi-identifier tuple (nation, market segment): every
    equivalence class with its size and a <k flag, plus the audit
    demonstrates the release-gate governance check a training-data
    pipeline runs before data leaves the curated zone."""
    from ..operators.pii import k_anonymity

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    return k_anonymity(c, ["nationkey", "mktsegment"], k=5)


PRIVACY_K_ANONYMITY_SQL = """
SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
       count(*) AS class_size,
       count(*) < 5 AS is_violation
FROM customer
GROUP BY 1, 2
"""


# ---------- point-in-time join against SCD2 history ----------
#
# The lakehouse temporal-join workhorse: attach to each fact row the
# dimension version that was valid AT the fact's timestamp (here: the
# customer's order-priority version in effect on each lineitem's ship
# date). Physical plan is the scalable as-of shape — NO fact×history
# interval join: version rows and fact rows are unioned, one window per
# key carries the latest version forward (last ignorenulls), and fact
# rows read it. One shuffle on the key; the window's sort interleaves
# versions BEFORE facts at equal timestamps (half-open [from, to)
# semantics) and orders tied versions by the SCD2 attribute order, so
# zero-length versions (superseded same-day) are never picked — exactly
# the rows the oracle's interval predicate excludes.

def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    hist = scd2_priority_history(spark, sf_dir)
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    fact = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "o_custkey", "l_shipdate"
    )
    v = hist.select(
        "o_custkey",
        F.col("valid_from").alias("t"),
        F.lit(0).alias("is_event"),
        F.col("o_orderpriority").alias("ver_priority"),
        F.lit(None).cast("long").alias("l_orderkey"),
        F.lit(None).cast("int").alias("l_linenumber"),
    )
    e = fact.select(
        "o_custkey",
        F.col("l_shipdate").alias("t"),
        F.lit(1).alias("is_event"),
        F.lit(None).cast("string").alias("ver_priority"),
        "l_orderkey",
        "l_linenumber",
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(
            F.col("t").asc(),
            F.col("is_event").asc(),
            F.col("ver_priority").asc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        v.unionByName(e)
        .withColumn(
            "priority_at_ship", F.last("ver_priority", ignorenulls=True).over(w)
        )
        .filter(F.col("is_event") == 1)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("o_custkey").alias("custkey"),
            F.col("t").alias("l_shipdate"),
            "priority_at_ship",
        )
    )


SCD2_POINT_IN_TIME_JOIN_SQL = """
WITH v AS (
  SELECT o_custkey, o_orderpriority, o_orderdate,
         row_number() OVER w AS rn,
         lag(o_orderpriority) OVER w AS prev
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderpriority ASC)
), keep AS (
  SELECT o_custkey, o_orderpriority, o_orderdate
  FROM v WHERE rn = 1 OR prev IS DISTINCT FROM o_orderpriority
), hist AS (
  SELECT o_custkey, o_orderpriority,
         o_orderdate AS valid_from,
         lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderpriority ASC) AS valid_to
  FROM keep
), fact AS (
  SELECT l_orderkey, l_linenumber, o_custkey, l_shipdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT f.l_orderkey, f.l_linenumber, f.o_custkey AS custkey, f.l_shipdate,
       h.o_orderpriority AS priority_at_ship
FROM fact f
LEFT JOIN hist h
  ON f.o_custkey = h.o_custkey
 AND h.valid_from <= f.l_shipdate
 AND (h.valid_to IS NULL OR f.l_shipdate < h.valid_to)
"""


# ---------- snapshot diff (table_changes on plain snapshots) ----------
#
# CDF-shape diff between two table versions without a change log: one
# null-safe full-outer join on the key, JVM column compares, change
# classification + the changed-column list. The registry pair diffs
# the customer table against a deterministic "next version" (one
# segment's balances adjusted, every 97th key deleted) so the oracle
# value-checks all three classification paths; the insert path and the
# CDC-store composition (diff(version N-1, N) == the CDC batch) are
# pinned by unit tests.

def snapshot_diff_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    new = (
        c.filter(F.col("c_custkey") % 97 != 0)
        .withColumn(
            "c_acctbal",
            F.when(
                F.col("c_mktsegment") == "BUILDING", F.col("c_acctbal") + 10.0
            ).otherwise(F.col("c_acctbal")),
        )
    )
    return MG.snapshot_diff(c, new, key_cols=["c_custkey"])


SNAPSHOT_DIFF_CUSTOMERS_SQL = """
WITH new AS (
  SELECT c_custkey, c_name, c_nationkey,
         CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 10.0
              ELSE c_acctbal END AS c_acctbal,
         c_mktsegment
  FROM customer WHERE c_custkey % 97 <> 0
)
SELECT coalesce(n.c_custkey, o.c_custkey) AS c_custkey,
       CASE WHEN o.c_custkey IS NULL THEN 'insert'
            WHEN n.c_custkey IS NULL THEN 'delete'
            WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'update'
            ELSE 'unchanged' END AS change_type,
       CASE WHEN o.c_custkey IS NULL OR n.c_custkey IS NULL THEN []
            WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN ['c_acctbal']
            ELSE [] END AS changed_cols
FROM customer o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
WHERE NOT (o.c_custkey IS NOT NULL AND n.c_custkey IS NOT NULL
           AND o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal)
"""


def er_part_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage, resolved: the fuzzy pair relation closed into
    ENTITIES via connected components (string node ids — min-label
    works on any orderable key), singletons kept as their own entity.
    One row per real-world part entity: canonical (min) name, variant
    count, total record multiplicity. Completes the ER story the same
    way dedup_components completes near-dup: pairs are evidence,
    entities are the product."""
    p = _t(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.count("*").alias("n_recs"))
    comp = er_components_cached(spark, sf_dir)
    labeled = (
        names.join(comp, names.p_name == comp.node, "left")
        .select(
            "p_name",
            "n_recs",
            F.coalesce("component", F.col("p_name")).alias("entity_id"),
        )
    )
    return labeled.groupBy("entity_id").agg(
        F.count("*").alias("n_variants"),
        F.sum("n_recs").alias("total_recs"),
    )


ER_PART_ENTITIES_SQL = """
WITH RECURSIVE names AS (
  SELECT p_name, count(*) AS n_recs FROM part GROUP BY p_name
), side AS (
  SELECT p_name AS name, string_split(p_name, ' ')[2] AS block FROM names
), prs AS (
  SELECT a.name AS name1, b.name AS name2
  FROM side a JOIN side b ON a.block = b.block AND a.name < b.name
  WHERE levenshtein(a.name, b.name) <= 4
), edges AS (
  SELECT name1 AS src, name2 AS dst FROM prs
  UNION SELECT name2, name1 FROM prs
), reach(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
), comp AS (
  SELECT node, min(label) AS component FROM reach GROUP BY node
)
SELECT coalesce(c.component, n.p_name) AS entity_id,
       count(*) AS n_variants,
       CAST(sum(n.n_recs) AS BIGINT) AS total_recs
FROM names n LEFT JOIN comp c ON n.p_name = c.node
GROUP BY 1
"""


def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship: one GOLDEN RECORD per resolved part entity —
    survivor name (the variant with the most records; ties to the
    smaller name), modal brand (most records across the entity's rows;
    ties to the smaller brand), price band, and volume counters. The
    step after ``er_part_entities``: entities say WHICH rows belong
    together, the golden record says what the merged master row IS —
    the argmax tie-breaks are the MDM survivorship rules stated
    deterministically.

    Scale: records are labeled by an entity-keyed broadcast-or-shuffle
    join against the component relation (|entities| ≤ |names|, tiny
    next to `part`); both survivorship branches aggregate on entity_id
    so their exchanges line up and AQE reuses one shuffle; each argmax
    is a single map-side-combinable ``min(struct(-cnt, value))`` — no
    window sort over the fact stream."""
    p = _t(spark, sf_dir, "part")
    comp = er_components_cached(spark, sf_dir)
    # persisted: three survivorship branches (names, brands, prices)
    # consume the labeled relation — without it each branch re-runs the
    # part scan + component join
    rec = p.join(comp, p.p_name == comp.node, "left").select(
        F.coalesce("component", F.col("p_name")).alias("entity_id"),
        "p_name",
        "p_brand",
        "p_retailprice",
    ).persist()
    name_counts = rec.groupBy("entity_id", "p_name").agg(
        F.count("*").alias("cnt")
    )
    survivor = (
        name_counts.groupBy("entity_id")
        .agg(
            F.min(
                F.struct((-F.col("cnt")).alias("neg"), F.col("p_name"))
            ).alias("best"),
            F.count("*").alias("n_variants"),
            F.sum("cnt").alias("total_recs"),
        )
        .select(
            "entity_id",
            F.col("best.p_name").alias("survivor_name"),
            F.col("n_variants").cast("long").alias("n_variants"),
            F.col("total_recs").cast("long").alias("total_recs"),
        )
    )
    brand_counts = rec.groupBy("entity_id", "p_brand").agg(
        F.count("*").alias("cnt")
    )
    modal_brand = (
        brand_counts.groupBy("entity_id")
        .agg(
            F.min(
                F.struct((-F.col("cnt")).alias("neg"), F.col("p_brand"))
            ).alias("best")
        )
        .select("entity_id", F.col("best.p_brand").alias("modal_brand"))
    )
    prices = rec.groupBy("entity_id").agg(
        F.round(F.min("p_retailprice"), 2).alias("price_min"),
        F.round(F.max("p_retailprice"), 2).alias("price_max"),
    )
    return survivor.join(modal_brand, "entity_id").join(prices, "entity_id")


ER_GOLDEN_RECORD_SQL = """
WITH RECURSIVE names AS (
  SELECT p_name, count(*) AS n_recs FROM part GROUP BY p_name
), side AS (
  SELECT p_name AS name, string_split(p_name, ' ')[2] AS block FROM names
), prs AS (
  SELECT a.name AS name1, b.name AS name2
  FROM side a JOIN side b ON a.block = b.block AND a.name < b.name
  WHERE levenshtein(a.name, b.name) <= 4
), edges AS (
  SELECT name1 AS src, name2 AS dst FROM prs
  UNION SELECT name2, name1 FROM prs
), reach(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
), comp AS (
  SELECT node, min(label) AS component FROM reach GROUP BY node
), rec AS (
  SELECT coalesce(c.component, p.p_name) AS entity_id,
         p.p_name, p.p_brand, p.p_retailprice
  FROM part p LEFT JOIN comp c ON p.p_name = c.node
), name_counts AS (
  SELECT entity_id, p_name, count(*) AS cnt FROM rec GROUP BY 1, 2
), survivor AS (
  SELECT entity_id,
         min({'neg': -cnt, 'nm': p_name})['nm'] AS survivor_name,
         CAST(count(*) AS BIGINT) AS n_variants,
         CAST(sum(cnt) AS BIGINT) AS total_recs
  FROM name_counts GROUP BY entity_id
), brand_counts AS (
  SELECT entity_id, p_brand, count(*) AS cnt FROM rec GROUP BY 1, 2
), modal AS (
  SELECT entity_id, min({'neg': -cnt, 'nm': p_brand})['nm'] AS modal_brand
  FROM brand_counts GROUP BY entity_id
), prices AS (
  SELECT entity_id,
         round(min(p_retailprice), 2) AS price_min,
         round(max(p_retailprice), 2) AS price_max
  FROM rec GROUP BY entity_id
)
SELECT s.entity_id, s.survivor_name, s.n_variants, s.total_recs,
       m.modal_brand, p.price_min, p.price_max
FROM survivor s JOIN modal m USING (entity_id) JOIN prices p USING (entity_id)
"""


QUERIES = {
    "er_golden_record": (er_golden_record, ER_GOLDEN_RECORD_SQL),
    "er_part_entities": (er_part_entities, ER_PART_ENTITIES_SQL),
    "pii_redact_documents": (pii_redact_documents, PII_REDACT_DOCUMENTS_SQL),
    "snapshot_diff_customers": (
        snapshot_diff_customers,
        SNAPSHOT_DIFF_CUSTOMERS_SQL,
    ),
    "scd2_point_in_time_join": (
        scd2_point_in_time_join,
        SCD2_POINT_IN_TIME_JOIN_SQL,
    ),
    "privacy_k_anonymity": (privacy_k_anonymity, PRIVACY_K_ANONYMITY_SQL),
    "url_domain_stats": (url_domain_stats, URL_DOMAIN_STATS_SQL),
    "er_fuzzy_part_pairs": (er_fuzzy_part_pairs, ER_FUZZY_PART_PAIRS_SQL),
    "cdc_apply_customer": (cdc_apply_customer, CDC_APPLY_CUSTOMER_SQL),
    "scd2_priority_history": (scd2_priority_history, SCD2_PRIORITY_HISTORY_SQL),
    "embedding_dim_stats": (embedding_dim_stats, EMBEDDING_DIM_STATS_SQL),
    "value_histogram": (value_histogram, VALUE_HISTOGRAM_SQL),
    "dq_expectations_orders": (dq_expectations_orders, DQ_EXPECTATIONS_ORDERS_SQL),
}
