"""Streaming document ingest: exact dedup across micro-batches + quality
gate, with checkpointed exactly-once semantics."""

from __future__ import annotations

import os

import pandas as pd


def _write(src: str, name: str, rows: list[tuple]) -> None:
    os.makedirs(src, exist_ok=True)
    pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"]).to_parquet(
        f"{src}/{name}", index=False
    )


def test_document_ingest_dedup_and_quality_gate(spark, tmp_path):
    from investcloud_data_pipeline_spark.streaming.documents import (
        start_document_ingest,
    )

    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))

    def drain():
        q = start_document_ingest(spark, src, out, ck)
        q.awaitTermination(120)

    _write(
        src,
        "b1.parquet",
        [
            (1, "the quick brown fox jumps", "en", "s1"),
            (2, "THE QUICK  brown FOX jumps!!", "en", "s2"),  # dup of 1 (normalized)
            (3, "too short", "en", "s1"),  # fails min_tokens=3
            (4, "a genuinely different document body", "en", "s1"),
        ],
    )
    drain()
    _write(
        src,
        "b2.parquet",
        [
            (5, "the quick brown fox jumps", "en", "s3"),  # cross-batch dup of 1
            (6, "new content arriving in the second batch", "en", "s3"),
        ],
    )
    drain()

    rows = spark.read.parquet(out).collect()
    kept_ids = sorted(r.doc_id for r in rows)
    # doc 2 is an in-batch exact dup; doc 5 a cross-batch dup; doc 3 gated
    assert 3 not in kept_ids
    assert len([i for i in kept_ids if i in (1, 2)]) == 1
    assert 5 not in kept_ids
    assert {4, 6} <= set(kept_ids)
    digests = [r.digest for r in rows]
    assert len(digests) == len(set(digests))
    assert all(r.n_tokens >= 3 for r in rows)


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the old wooden fence near the garden gate"
)
# the same 1-word-edit pair the batch LSH recall test pins (band
# agreement at J≈0.7 is probabilistic; this pair is a known collider)
NEAR = BASE.replace("lazy dog", "sleepy dog")
FAR = "completely different content about database engines and query planning"
FAR2 = "another unrelated body of text describing mountain weather patterns today"


def test_neardup_ingest_suppresses_across_and_within_batches(spark, tmp_path):
    from investcloud_data_pipeline_spark.streaming.documents import (
        start_neardup_ingest,
    )

    src, out, sig, ck = (str(tmp_path / d) for d in ("src", "out", "sig", "ck"))

    def drain():
        q = start_neardup_ingest(spark, src, out, sig, ck)
        q.awaitTermination(180)

    _write(
        src,
        "b1.parquet",
        [
            (1, BASE, "en", "s1"),
            (2, FAR, "en", "s1"),
            (7, NEAR, "en", "s1"),  # within-batch near-dup of 1 → suppressed
        ],
    )
    drain()
    first = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert first == [1, 2]

    _write(
        src,
        "b2.parquet",
        [
            (3, NEAR, "en", "s2"),   # cross-batch near-dup of committed 1
            (4, BASE, "en", "s2"),   # cross-batch exact dup (subsumed)
            (5, FAR2, "en", "s2"),   # genuinely new → kept
        ],
    )
    drain()
    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept == [1, 2, 5]

    # signature state holds bands only for survivors
    sig_ids = {r.id for r in spark.read.parquet(sig).collect()}
    assert sig_ids == {1, 2, 5}

    # replay with the same checkpoint: no new input → no change (and a
    # re-run of a committed epoch would be skipped by the markers)
    drain()
    again = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert again == kept


def test_neardup_ingest_partial_failure_between_sinks(spark, tmp_path):
    """Crash window between the two sinks: docs committed, bands not.
    The replayed epoch must skip the docs append (marker present) and
    complete only the bands append — no duplicate survivor rows."""
    from investcloud_data_pipeline_spark.streaming.atomic import (
        mark_sink_epoch,
        sink_epoch_committed,
    )
    from investcloud_data_pipeline_spark.streaming.documents import (
        start_neardup_ingest,
    )

    src, out, sig, ck = (str(tmp_path / d) for d in ("src", "out", "sig", "ck"))
    _write(src, "b1.parquet", [(1, BASE, "en", "s1"), (2, FAR, "en", "s1")])

    q = start_neardup_ingest(spark, src, out, sig, ck)
    q.awaitTermination(180)
    assert sink_epoch_committed(out, 0) and sink_epoch_committed(sig, 0)

    # Simulate the crash for the NEXT epoch: pre-mark the docs sink for
    # epoch 1 as if the run died after the docs append but before the
    # bands append; the replay must write bands ONLY.
    _write(src, "b2.parquet", [(5, FAR2, "en", "s2")])
    mark_sink_epoch(out, 1)
    n_docs_before = spark.read.parquet(out).count()

    q = start_neardup_ingest(spark, src, out, sig, ck)
    q.awaitTermination(180)

    docs = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert spark.read.parquet(out).count() == n_docs_before  # no re-append
    assert docs == [1, 2]  # doc 5's append was (simulated-)crashed away
    # but its bands DID commit on replay — the sig sink made progress
    assert sink_epoch_committed(sig, 1)


def test_neardup_pair_ingest_matches_full_rebuild(spark, tmp_path):
    """Round-8 verdict task #4: N streamed micro-batches through the
    incremental pair stage produce EXACTLY the pair set of a
    from-scratch minhash_lsh_candidates rebuild on the full corpus,
    the stored band index is a bucketed table whose probe side plans
    without an exchange, and epoch replay appends nothing."""
    from pyspark.sql import functions as F

    from investcloud_data_pipeline_spark.operators.dedup_fuzzy import (
        minhash_band_relation,
        minhash_lsh_candidates,
    )
    from investcloud_data_pipeline_spark.streaming.documents import (
        start_neardup_pair_ingest,
    )

    src, pairs_dir, members_dir, ck = (
        str(tmp_path / d) for d in ("src", "pairs", "members", "ck")
    )
    base_text = "the quick brown fox jumps over the lazy dog again and again"
    batches = [
        [
            (1, base_text, "en", "s1"),
            (2, base_text, "en", "s2"),  # in-batch exact dup of 1
            (3, "completely unrelated content about spark shuffles", "en", "s1"),
        ],
        [
            (4, base_text + " tonight", "en", "s3"),  # near-dup of 1/2
            (5, base_text, "en", "s3"),  # cross-batch exact dup of 1/2
            (6, "another totally distinct document body here", "en", "s1"),
        ],
        [
            (7, base_text, "en", "s4"),  # third-batch exact dup
            (8, "completely unrelated content about spark shuffles", "en", "s4"),
        ],
    ]
    for i, rows in enumerate(batches):
        _write(src, f"b{i}.parquet", rows)

    table = "t_neardup_pair_index"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        q = start_neardup_pair_ingest(
            spark, src, pairs_dir, members_dir, ck, index_table=table
        )
        q.awaitTermination(180)

        streamed = {
            (r.id1, r.id2)
            for r in spark.read.parquet(pairs_dir).collect()
        }
        all_docs = spark.createDataFrame(
            [r for rows in batches for r in rows],
            "doc_id long, text string, lang string, source string",
        )
        full = {
            (r.id1, r.id2)
            for r in minhash_lsh_candidates(all_docs)
            .select("id1", "id2")
            .collect()
        }
        assert streamed == full
        # sanity on content: the exact-dup clique and the near-dup all
        # surfaced; the unrelated docs pair only with their own copies
        assert {(1, 2), (1, 5), (2, 5), (1, 7), (3, 8)} <= streamed
        assert not any({3, 8} & {a, b} and {a, b} <= {1, 2, 4, 5, 7, 3, 8}
                       and not {a, b} <= {3, 8}
                       for a, b in streamed)

        # the stored index is bucketed: a fresh delta probe against it
        # scans buckets directly, no exchange above the bucketed scan
        delta = spark.createDataFrame(
            [(99, base_text + " encore", "en", "s9")],
            "doc_id long, text string, lang string, source string",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            probe = minhash_band_relation(delta).alias("d").join(
                spark.table(table).alias("b"),
                (F.col("d.band_idx") == F.col("b.band_idx"))
                & (F.col("d.band_key") == F.col("b.band_key")),
            )
            plan = probe._jdf.queryExecution().executedPlan().toString()
            assert "SelectedBucketsCount" in plan, plan
            scan_at = plan.index(table)
            last_sort = plan[:scan_at].rfind("Sort [band_idx")
            assert last_sort != -1, plan
            assert "Exchange" not in plan[last_sort:scan_at], plan
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

        # replay idempotence: a second drain over the same source +
        # checkpoint appends nothing to any of the three sinks
        n_pairs = spark.read.parquet(pairs_dir).count()
        n_members = spark.read.parquet(members_dir).count()
        n_index = spark.table(table).count()
        q2 = start_neardup_pair_ingest(
            spark, src, pairs_dir, members_dir, ck, index_table=table
        )
        q2.awaitTermination(120)
        assert spark.read.parquet(pairs_dir).count() == n_pairs
        assert spark.read.parquet(members_dir).count() == n_members
        assert spark.table(table).count() == n_index
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_embedding_index_ingest_partition_pruned_and_stable(spark, tmp_path):
    """Streaming IVF index maintenance: centroids fitted once from the
    first batch and reused, per-batch appends land partitioned by
    cell, assignments match the batch operator against the stored
    centroids, an nprobe cell read touches only those cells' files,
    and epoch replay appends nothing."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from investcloud_data_pipeline_spark.functions.vectors import (
        assign_cells,
        to_double_array,
    )
    from investcloud_data_pipeline_spark.streaming.documents import (
        start_embedding_index_ingest,
    )

    src, index_dir, cent_dir, ck = (
        str(tmp_path / d) for d in ("src", "index", "cent", "ck")
    )
    rng = np.random.default_rng(11)

    def write_batch(name, ids):
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(src, exist_ok=True)
        table = pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [
                        rng.normal(size=8).astype("float32").tolist()
                        for _ in ids
                    ],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array(
                    [int(i % 3) for i in ids], pa.int32()
                ),
            }
        )
        pq.write_table(table, f"{src}/{name}")

    write_batch("b1.parquet", list(range(0, 40)))
    write_batch("b2.parquet", list(range(40, 70)))
    q = start_embedding_index_ingest(
        spark, src, index_dir, cent_dir, ck, n_cells=4
    )
    q.awaitTermination(120)

    idx = spark.read.parquet(index_dir)
    assert idx.count() == 70
    assert idx.select("vec_id").distinct().count() == 70
    # assignments match the batch operator against the STORED centroids
    cent_rows = (
        spark.read.parquet(f"{cent_dir}/centroids.parquet")
        .orderBy("cell")
        .collect()
    )
    centers = np.asarray([r.centroid for r in cent_rows])
    assert len(centers) == 4
    redo = (
        idx.withColumn(
            "re_cell", assign_cells(centers)(to_double_array("embedding"))
        )
        .filter(F.col("cell") != F.col("re_cell"))
        .count()
    )
    assert redo == 0
    # nprobe partition pruning: the cell predicate lands in the scan's
    # PartitionFilters (directory-level pruning, no data-file touch for
    # the other cells) — not in a post-scan Filter
    import re

    two = spark.read.parquet(index_dir).filter(F.col("cell").isin(0, 1))
    plan = two._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    assert m and re.search(r"cell#\d+ IN \(0,1\)", m.group(0)), plan
    assert two.count() > 0
    # replay idempotence
    n0 = idx.count()
    q2 = start_embedding_index_ingest(
        spark, src, index_dir, cent_dir, ck, n_cells=4
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(index_dir).count() == n0

    # a LATER batch after restart reuses the stored centroids (no
    # refit — cell ids stay stable for the life of the index)
    write_batch("b3.parquet", list(range(70, 90)))
    q3 = start_embedding_index_ingest(
        spark, src, index_dir, cent_dir, ck, n_cells=4
    )
    q3.awaitTermination(120)
    idx3 = spark.read.parquet(index_dir)
    assert idx3.count() == 90
    cent_after = np.asarray(
        [
            r.centroid
            for r in spark.read.parquet(f"{cent_dir}/centroids.parquet")
            .orderBy("cell")
            .collect()
        ]
    )
    assert np.array_equal(cent_after, centers)
    redo3 = (
        idx3.withColumn(
            "re_cell", assign_cells(centers)(to_double_array("embedding"))
        )
        .filter(F.col("cell") != F.col("re_cell"))
        .count()
    )
    assert redo3 == 0


def test_embedding_index_ingest_distributed_fit(
    spark, tmp_path, distributed_fit
):
    """The same index contract when the first batch is fitted above the
    driver-fit guard (Spark ML KMeans)."""
    test_embedding_index_ingest_partition_pruned_and_stable(spark, tmp_path)
