"""Store-off equivalence gate (round-13, verdict item 1b).

Every session-store (``*_cached``) helper must be a pure read-through
memo: routing it to its inline build via ``SPARK_GRAFT_STORES=off``
must leave every consumer's rows IDENTICAL. One representative
consumer per store family runs both ways at sf0.001 and the collected
rows are compared exactly (generalizing the span family's
``test_span_store_path_identical``).

Representative map (family -> consumer):

* shingle store + jaccard-pair store      -> dedup_ngram_jaccard
* components store (CC over pairs)        -> dedup_components
* minhash-signature store                 -> dedup_minhash_lsh
* tokenizer + window (ExactSubstr) stores -> dedup_strip_spans
* PCA fit store                           -> embedding_pca_project
* seeded k-means fit store                -> corpus_topic_clusters
* embedding rows + pair stores            -> dedup_semantic_pairs
* DSIR weight store                       -> corpus_dsir_sample
* PQ best16 store                         -> embedding_pq_codes
* PQ k-means index store                  -> ann_pq_adc_kmeans_topk
* IVF-PQ index store                      -> ann_ivf_pq_topk
* mining basket/pair stores               -> copurchase_rules_lift
* mining family stores                    -> copurchase_family_triples
* ER pair + components stores             -> er_golden_record
* table schema store (``load_table``)     -> q5_local_supplier_volume
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from investcloud_data_pipeline_spark.stores import stores_enabled

STORE_CONSUMERS = [
    "dedup_ngram_jaccard",
    "dedup_components",
    "dedup_minhash_lsh",
    "dedup_strip_spans",
    "embedding_pca_project",
    "corpus_topic_clusters",
    "dedup_semantic_pairs",
    "corpus_dsir_sample",
    "embedding_pq_codes",
    "ann_pq_adc_kmeans_topk",
    "ann_ivf_pq_topk",
    "copurchase_rules_lift",
    "copurchase_family_triples",
    "er_golden_record",
    "q5_local_supplier_volume",
]


def _norm(rows):
    return sorted(tuple(r) for r in rows)


def test_stores_enabled_parsing(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STORES", raising=False)
    assert stores_enabled()
    for v in ("off", "OFF", "0", "false", " False "):
        monkeypatch.setenv("SPARK_GRAFT_STORES", v)
        assert not stores_enabled()
    monkeypatch.setenv("SPARK_GRAFT_STORES", "on")
    assert stores_enabled()


@pytest.mark.parametrize("name", STORE_CONSUMERS)
def test_store_off_rows_identical(spark, sf_dir, name, monkeypatch):
    qs = entrymod.queries()
    monkeypatch.delenv("SPARK_GRAFT_STORES", raising=False)
    with_stores = _norm(qs[name](spark, sf_dir).collect())
    monkeypatch.setenv("SPARK_GRAFT_STORES", "off")
    without = _norm(qs[name](spark, sf_dir).collect())
    assert with_stores == without
