"""registry_mix: closed-loop passes over a fixed mix of registry queries.

Each operation is ``queries()[name](spark, sf_dir)`` (plan construction,
which may already run jobs) followed by ``.collect()``. Results are
checked after the timed pass against ``oracle_sql()`` run on DuckDB over
the same tables.
"""

from __future__ import annotations

import hashlib
import sys
import time

from spans import Tracer

# name -> family. The mix keeps every family of the registry: TPC-H
# shapes (Catalyst planning, shuffle joins and aggregations), LLM-data ops
# (Python/Arrow boundary, session stores, construction-time jobs, graph
# loops) and the batch medallion queries that share operators/ with the
# stream.
MIX = {
    "q1_pricing_summary": "tpch",
    "q3_shipping_priority": "tpch",
    "q5_local_supplier_volume": "tpch",
    "q7_volume_shipping": "tpch",
    "q9_product_type_profit": "tpch",
    "q13_customer_distribution": "tpch",
    "q18_large_orders": "tpch",
    "q21_lone_failing_supplier": "tpch",
    "dedup_simhash_candidates": "dedup",
    "er_golden_record": "dedup",
    "ann_vectorized_topk": "ann",
    "embedding_pca_project": "ann",
    "text_bm25_search": "text",
    "text_naive_bayes_langid": "text",
    "directed_pagerank_sinks": "graph",
    "corpus_leakage_free_split": "corpus",
    "bronze_quality_quarantine": "medallion",
    "silver_dedup": "medallion",
    "gold_region_totals": "medallion",
    "gold_user_argmax": "medallion",
}
FAMILIES = ("tpch", "dedup", "ann", "text", "graph", "corpus", "medallion")
# Queries without a SQL oracle are checked against the oracle of their
# exact twin on the key columns only: the neighbour ids per query are
# exact, the cosines differ in the last bits (numpy summation order).
KEY_TWIN = {"ann_vectorized_topk": ("ann_brute_force_topk", ("query_id", "neighbor_id"))}


def _digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result, columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if hasattr(v, "isoformat"):
                v = v.isoformat()
            elif isinstance(v, float):
                v = repr(v)
            vals.append("\x00NULL" if v is None else str(v))
        norm.append("\x01".join(vals))
    norm.sort()
    h = hashlib.sha256("\x02".join(sorted(columns)).encode())
    for line in norm:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def run(spark, sf_dir: str, passes: int, tracer: Tracer) -> dict:
    """``passes`` timed passes over MIX. Returns per-query samples and the
    first pass's results."""
    import __spark_entry__ as entry

    queries = entry.queries()
    sc = spark.sparkContext
    samples: list[tuple[str, float, float]] = []  # (name, construct_s, total_s)
    results: dict[str, tuple[list[str], list]] = {}
    failed: list[str] = []
    t_start = time.perf_counter()
    for _ in range(passes):
        for name in MIX:
            with tracer.span("query", op=name) as sp:
                t0 = time.perf_counter()
                try:
                    tracer.job_group(sc, f"{name}:construct")
                    df = queries[name](spark, sf_dir)
                    t1 = time.perf_counter()
                    tracer.job_group(sc, f"{name}:execute")
                    rows = df.collect()
                    t2 = time.perf_counter()
                except Exception as exc:  # noqa: BLE001 - a failed op is counted
                    print(f"registry_mix: {name} failed: {exc}", file=sys.stderr)
                    failed.append(name)
                    continue
            tracer.add("construct", t0, t1, op=name, parent=sp)
            tracer.add("collect", t1, t2, op=name, parent=sp)
            samples.append((name, t1 - t0, t2 - t0))
            results.setdefault(name, (df.columns, rows))
    wall = time.perf_counter() - t_start
    tracer.job_group(sc, "harness")
    return {"samples": samples, "results": results, "failed": failed, "wall": wall}


def _keys(columns: list[str], rows, keys) -> set:
    idx = [columns.index(k) for k in keys]
    return {tuple(row[i] for i in idx) for row in rows}


def check(sf_dir: str, results: dict) -> list[str]:
    """Compare each collected result with its DuckDB oracle; returns the
    names whose results do not match."""
    import duckdb

    import __spark_entry__ as entry
    from investcloud_data_pipeline_spark.sources.batch import TESTDATA_TABLES

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = []
    for name, (cols, rows) in results.items():
        try:
            if name in KEY_TWIN:
                twin, keys = KEY_TWIN[name]
                rel = con.sql(oracles[twin])
                want = _keys(list(rel.columns), rel.fetchall(), keys)
                ok = want == _keys(cols, rows, keys) and len(rows) == len(want)
            else:
                rel = con.sql(oracles[name])
                ok = _digest(list(rel.columns), rel.fetchall()) == _digest(
                    cols, [tuple(r) for r in rows]
                )
        except Exception as exc:  # noqa: BLE001 - a failed check is counted
            print(f"registry_mix: oracle for {name} failed: {exc}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"registry_mix: {name} does not match its oracle", file=sys.stderr)
            bad.append(name)
    con.close()
    return bad
