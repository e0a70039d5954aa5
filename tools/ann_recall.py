"""ANN recall ledger: recall@k of every approximate method vs exact.

The bucketed ANN paths (sign-LSH, BRP-LSH, IVF) have tolerance tests
but until r6 no committed recall numbers — a banding change that
quietly gutted recall would have been invisible. This tool measures
recall@k per method against the exact cosine top-k (brute_force_topk)
on the real embeddings table and writes a small committed JSON.

recall@k = mean over queries of |approx_topk ∩ exact_topk| / k.

BRP-LSH is an L2 method scored here against the cosine ground truth —
its number is expected to trail the cosine-native methods; it is
recorded under the same metric because the corpus-dedup use case the
engine serves IS cosine retrieval.

Usage: python tools/ann_recall.py [out.json] [sf_dir] [k] [n_queries]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def topk_sets(df, k: int) -> dict:
    """query_id -> set of neighbor ids (collect is bounded: n_queries*k
    tiny rows)."""
    out: dict = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return {q: s for q, s in out.items()}


def measure(sf_dir: str, k: int, n_queries: int) -> dict:
    from pyspark.sql import functions as F

    from investcloud_data_pipeline_spark.operators import simsearch as SS
    from investcloud_data_pipeline_spark.session import get_spark
    from investcloud_data_pipeline_spark.sources.batch import load_table

    spark = get_spark("ann_recall")
    emb = load_table(spark, sf_dir, "embeddings").persist()
    n_corpus = emb.count()
    queries = emb.filter(F.col("vec_id") < n_queries)

    t0 = time.time()
    exact = topk_sets(SS.brute_force_topk(emb, queries, k=k), k)
    t_exact = round(time.time() - t0, 2)

    methods = {
        "sign_lsh": lambda: SS.lsh_bucketed_topk(emb, queries, k=k),
        "multiband_lsh": lambda: SS.lsh_multiband_topk(emb, queries, k=k),
        "brp_lsh": lambda: SS.brp_lsh_topk(emb, queries, k=k),
        "ivf_probe2": lambda: SS.ivf_topk(emb, queries, k=k, n_probe=2),
        "ivf_probe4": lambda: SS.ivf_topk(emb, queries, k=k, n_probe=4),
        "vectorized_exact": lambda: SS.vectorized_topk(emb, queries, k=k),
    }
    results = {}
    for name, fn in methods.items():
        t0 = time.time()
        approx = topk_sets(fn(), k)
        wall = round(time.time() - t0, 2)
        # Queries missing entirely from a bucketed method count as 0.
        per_q = [
            len(approx.get(q, set()) & exact_set) / k
            for q, exact_set in exact.items()
        ]
        results[name] = {
            "recall_at_k": round(sum(per_q) / len(per_q), 4),
            "min_query_recall": round(min(per_q), 4),
            "queries_answered": sum(1 for q in exact if approx.get(q)),
            "wall_s": wall,
        }
    # PQ ADC ranks by L2, so its recall is measured against the exact
    # L2 top-k (not cosine): same queries, same k. The seeded-SAMPLE
    # 16-entry codebook trades recall for oracle-exactness on this
    # near-orthogonal random corpus — recorded honestly, like the
    # single-band sign-LSH row; the k-means codebook is the upgrade.
    from pyspark.sql import Window

    from investcloud_data_pipeline_spark.plans import analytics_ext5 as AX5

    base = emb.select("vec_id", "embedding")
    qs = queries.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )
    pairs = base.crossJoin(F.broadcast(qs)).filter(
        F.col("vec_id") != F.col("qid")
    )
    l2 = F.expr(
        "aggregate(zip_with(embedding, qemb,"
        " (x,y)->(CAST(x AS DOUBLE)-CAST(y AS DOUBLE))"
        "*(CAST(x AS DOUBLE)-CAST(y AS DOUBLE))),"
        " CAST(0 AS DOUBLE), (a,e)->a+e)"
    )
    wq = Window.partitionBy("qid").orderBy(F.col("l2").asc(), F.col("vec_id").asc())
    exact_l2_df = (
        pairs.select("qid", "vec_id", l2.alias("l2"))
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= k)
    )
    exact_l2: dict = {}
    for r in exact_l2_df.collect():
        exact_l2.setdefault(r.qid, set()).add(r.vec_id)
    t0 = time.time()
    adc_df = AX5.pq_adc_topk(base, qs, k=k)
    adc: dict = {}
    for r in adc_df.collect():
        adc.setdefault(r.qid, set()).add(r.vec_id)
    per_q = [
        len(adc.get(q, set()) & ex) / k for q, ex in exact_l2.items()
    ]
    results["pq_adc_vs_exact_l2"] = {
        "recall_at_k": round(sum(per_q) / len(per_q), 4),
        "min_query_recall": round(min(per_q), 4),
        "queries_answered": sum(1 for q in exact_l2 if adc.get(q)),
        "wall_s": round(time.time() - t0, 2),
    }

    # The k-means upgrade path: independently fitted per-subspace
    # codebooks (``seeded_kmeans_centers``, the fit IVF/SemDeDup use)
    # packed into synthetic full-width center vectors — the
    # quality/recall knob the registry query deliberately trades away
    # for oracle-exactness.
    from investcloud_data_pipeline_spark.functions.vectors import (
        seeded_kmeans_centers,
    )
    from investcloud_data_pipeline_spark.plans.analytics_ext5 import (
        PQ_CODEBOOK,
        PQ_SUBDIM,
        PQ_SUBSPACES,
    )

    slices = [
        seeded_kmeans_centers(
            base.select(
                F.slice("embedding", s * PQ_SUBDIM + 1, PQ_SUBDIM).alias("v")
            ),
            "v",
            PQ_CODEBOOK,
            seed=42 + s,
        )
        for s in range(PQ_SUBSPACES)
    ]
    km_centers = AX5._codebook_frame(adc_df.sparkSession, slices)
    t0 = time.time()
    km_df = AX5.pq_adc_topk(base, qs, k=k, centers=km_centers)
    km: dict = {}
    for r in km_df.collect():
        km.setdefault(r.qid, set()).add(r.vec_id)
    per_q = [
        len(km.get(q, set()) & ex) / k for q, ex in exact_l2.items()
    ]
    results["pq_adc_kmeans_vs_exact_l2"] = {
        "recall_at_k": round(sum(per_q) / len(per_q), 4),
        "min_query_recall": round(min(per_q), 4),
        "queries_answered": sum(1 for q in exact_l2 if km.get(q)),
        "wall_s": round(time.time() - t0, 2),
    }

    # Codebook size is the real recall knob (production PQ uses K=256
    # per subspace); the K=64 k-means codebook is now the SHIPPED
    # registry query ann_pq_adc_kmeans_topk — measure it through the
    # exact same builder so this ledger row is the operator's number.
    t0 = time.time()
    km64_centers = AX5._pq_kmeans_centers(adc_df.sparkSession, base)
    km64_df = AX5.pq_adc_topk(
        base,
        qs,
        k=k,
        centers=km64_centers,
        codes=AX5._pq_codes_arrow(base, km64_centers),
    )
    km64: dict = {}
    for r in km64_df.collect():
        km64.setdefault(r.qid, set()).add(r.vec_id)
    per_q = [
        len(km64.get(q, set()) & ex) / k
        for q, ex in exact_l2.items()
    ]
    results["pq_adc_kmeans64_vs_exact_l2"] = {
        "recall_at_k": round(sum(per_q) / len(per_q), 4),
        "min_query_recall": round(min(per_q), 4),
        "queries_answered": sum(1 for q in exact_l2 if km64.get(q)),
        "wall_s": round(time.time() - t0, 2),
        "registry_query": "ann_pq_adc_kmeans_topk",
    }

    # IVF-PQ residual coding (FAISS IVFADC): coarse cells + K=256
    # residual codebook + nprobe-cell ADC — measured raw (codes-only
    # ranking) AND with the exact-refine stage the registry query
    # ships (ADC shortlist → exact L2 re-rank, FAISS IndexRefineFlat).
    for name, kwargs, tag in (
        ("ivf_pq_adc_vs_exact_l2", {}, None),
        (
            "ivf_pq_refine_vs_exact_l2",
            {"refine": AX5.IVFPQ_REFINE},
            "ann_ivf_pq_topk",
        ),
    ):
        t0 = time.time()
        ivfpq_df = AX5.ivf_pq_adc_topk(base, qs, k=k, **kwargs)
        ivfpq: dict = {}
        for r in ivfpq_df.collect():
            ivfpq.setdefault(r.qid, set()).add(r.vec_id)
        per_q = [
            len(ivfpq.get(q, set()) & ex) / k
            for q, ex in exact_l2.items()
        ]
        results[name] = {
            "recall_at_k": round(sum(per_q) / len(per_q), 4),
            "min_query_recall": round(min(per_q), 4),
            "queries_answered": sum(1 for q in exact_l2 if ivfpq.get(q)),
            "wall_s": round(time.time() - t0, 2),
        }
        if tag:
            results[name]["registry_query"] = tag

    emb.unpersist()
    return {
        "metric": f"recall@{k}",
        "k": k,
        "n_queries": len(exact),
        "n_corpus": n_corpus,
        "sf_dir": sf_dir,
        "exact_wall_s": t_exact,
        "methods": results,
    }


def main() -> int:
    out_json = sys.argv[1] if len(sys.argv) > 1 else None
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    n_queries = int(sys.argv[4]) if len(sys.argv) > 4 else 100
    result = measure(sf_dir, k, n_queries)
    if out_json:
        with open(out_json, "w") as fh:
            json.dump(result, fh, indent=1, sort_keys=True)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
