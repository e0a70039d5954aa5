"""Flat-trigger evidence for incremental connected-components
maintenance (operators/graph_incremental.py::start_cluster_ingest).

The stage's claim: folding a batch of new dedup-graph edges costs
O(|delta| + affected components) — independent of the accumulated
graph size. This bench drains n_batches fixed-size edge files while
the stored graph grows to n_batches× the delta, and records:

- the PER-BATCH trigger durations (flat curve == independence
  evidence, the BENCH_PAIR_INGEST discipline);
- correctness at the end: incremental labelling == from-scratch
  ``connected_components_star`` over the union;
- the from-scratch recompute wall at the final size, for contrast
  with the last incremental trigger (the number the incremental path
  exists to avoid paying per batch).

Edge mix per batch (deterministic): ``per_batch`` new-node pair edges
(fresh two-node components) plus ``cross_edges`` edges bridging a new
node to an old one (merges that touch stored components — the
shard-pruned probe path), the realistic shape of a near-dup stream
where most documents are novel and a bounded fraction matches history.

Usage: python tools/bench_cc_ingest.py [out.json] [n_batches] [edges_per_batch]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

CROSS_EDGES = 20


def main() -> int:
    out_json = sys.argv[1] if len(sys.argv) > 1 else None
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    per_batch = int(sys.argv[3]) if len(sys.argv) > 3 else 20000

    import pandas as pd

    from investcloud_data_pipeline_spark.operators.graph import (
        connected_components_star,
    )
    from investcloud_data_pipeline_spark.operators.graph_incremental import (
        cc_read,
        start_cluster_ingest,
    )
    from investcloud_data_pipeline_spark.session import get_spark

    spark = get_spark("bench_cc_ingest")
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates",
        str(max(100, 2 * n_batches + 10)),
    )
    work = tempfile.mkdtemp(prefix="cc_ingest_bench_")
    src, members, remap, ck = (
        os.path.join(work, d) for d in ("src", "m", "r", "ck")
    )
    os.makedirs(src)

    def batch_edges(b: int) -> list[tuple[int, int]]:
        base = 1 + 2 * per_batch * b  # node ids unique per batch
        edges = [
            (base + 2 * i, base + 2 * i + 1) for i in range(per_batch)
        ]
        if b > 0:
            # deterministic old endpoints spread across prior batches
            for j in range(CROSS_EDGES):
                old = 1 + (j * 7919 + b * 104729) % (
                    2 * per_batch * b
                )
                edges.append((base + 2 * j, old))
        return edges

    all_edges = []
    for b in range(n_batches):
        edges = batch_edges(b)
        all_edges.extend(edges)
        pd.DataFrame(edges, columns=["id1", "id2"]).to_parquet(
            os.path.join(src, f"b{b:03d}.parquet"), index=False
        )

    t0 = time.time()
    q = start_cluster_ingest(spark, src, members, remap, ck)
    q.awaitTermination(1800)
    wall = time.time() - t0

    per_batch_ms = [
        {
            "batch_id": int(p["batchId"]),
            "rows": int(p["numInputRows"]),
            "trigger_ms": int(p["durationMs"]["triggerExecution"]),
        }
        for p in q.recentProgress
        if int(p["numInputRows"]) > 0
    ]
    if len(per_batch_ms) < n_batches:
        print(
            f"WARNING: only {len(per_batch_ms)}/{n_batches} progress "
            "rows retained",
            file=sys.stderr,
        )
    steady = [b["trigger_ms"] for b in per_batch_ms[1:]]
    flatness = (
        round(per_batch_ms[-1]["trigger_ms"] / steady[0], 2)
        if len(steady) >= 2 and steady[0] > 0
        else None
    )

    # correctness: incremental == from-scratch over the union
    inc = cc_read(spark, members, remap)
    edges_df = spark.createDataFrame(
        pd.DataFrame(all_edges, columns=["id1", "id2"])
    )
    t1 = time.time()
    scratch = connected_components_star(
        edges_df, src="id1", dst="id2"
    ).selectExpr("node", "component")
    n_diff = (
        inc.exceptAll(scratch).count()
        + scratch.exceptAll(inc).count()
    )
    scratch_wall = round(time.time() - t1, 3)

    remap_rows = 0
    from investcloud_data_pipeline_spark.operators.graph_incremental import (
        _read_remap,
    )

    remap_rows = _read_remap(spark, remap).count()

    out = {
        "metric": "cc_ingest_edges_per_sec",
        "value": round(len(all_edges) / wall, 1),
        "unit": "edges/sec",
        "n_batches": len(per_batch_ms),
        "edges_per_batch": per_batch + CROSS_EDGES,
        "n_edges": len(all_edges),
        "n_nodes": int(inc.count()),
        "remap_rows": int(remap_rows),
        "incremental_equals_scratch": n_diff == 0,
        "scratch_recompute_wall_s": scratch_wall,
        "last_trigger_ms": per_batch_ms[-1]["trigger_ms"],
        "trigger_flatness_last_over_first_steady": flatness,
        "per_batch": per_batch_ms,
        "wall_s": round(wall, 3),
    }
    print(json.dumps(out))
    if out_json:
        with open(out_json, "w") as fh:
            json.dump(out, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    return 0 if n_diff == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
