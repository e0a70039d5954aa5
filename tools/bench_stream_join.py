"""Throughput benchmark for the stream-stream attribution join
(streaming/joins.py::attribute_purchases).

Two file streams (clicks and purchases, maxFilesPerTrigger=1 each) are
drained through the watermarked time-range join into a parquet sink;
the tool reports events/sec end-to-end (generation excluded), the
attributed-pair count, and the per-batch trigger durations — the state
store's eviction (watermark + time bound) is what keeps the curve flat
while both sides' history grows, so the duration series is the
state-boundedness evidence, and the state-store row metrics from the
final progress are reported alongside.

Usage: python tools/bench_stream_join.py [out.json] [n_batches] [events_per_batch]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_json = sys.argv[1] if len(sys.argv) > 1 else None
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    per_batch = int(sys.argv[3]) if len(sys.argv) > 3 else 20000

    import pandas as pd

    from investcloud_data_pipeline_spark.session import get_spark
    from investcloud_data_pipeline_spark.streaming.joins import (
        attribute_purchases,
    )
    from stream_progress import batch_series, last_over_first_steady, retain_progress

    spark = get_spark("bench_stream_join")
    retain_progress(spark, n_batches)
    work = tempfile.mkdtemp(prefix="stream_join_bench_")
    csrc, psrc, out, ck = (
        os.path.join(work, d) for d in ("clicks", "purchases", "out", "ck")
    )
    os.makedirs(csrc)
    os.makedirs(psrc)

    t_base = pd.Timestamp("2024-04-01")
    n_users = 500
    for b in range(n_batches):
        # timestamps advance monotonically across batches; 1 click/s,
        # every 4th user purchases 5 minutes after a click (inside the
        # 15-minute attribution window)
        clicks = pd.DataFrame(
            {
                "user_id": [
                    (b * per_batch + i) % n_users for i in range(per_batch)
                ],
                "click_ts": [
                    t_base + pd.Timedelta(seconds=b * per_batch + i)
                    for i in range(per_batch)
                ],
                "click_id": [b * per_batch + i for i in range(per_batch)],
            }
        ).astype({"click_ts": "datetime64[us]"})
        clicks.to_parquet(f"{csrc}/b{b:03d}.parquet", index=False)
        np_ = per_batch // 4
        purchases = pd.DataFrame(
            {
                "user_id": [
                    (b * per_batch + 4 * i) % n_users for i in range(np_)
                ],
                "purchase_ts": [
                    t_base
                    + pd.Timedelta(seconds=b * per_batch + 4 * i)
                    + pd.Timedelta(minutes=5)
                    for i in range(np_)
                ],
                "amount": [float(i % 97) for i in range(np_)],
            }
        ).astype({"purchase_ts": "datetime64[us]"})
        purchases.to_parquet(f"{psrc}/b{b:03d}.parquet", index=False)

    clicks_s = (
        spark.readStream.schema(
            "user_id long, click_ts timestamp, click_id long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(csrc)
    )
    purchases_s = (
        spark.readStream.schema(
            "user_id long, purchase_ts timestamp, amount double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(psrc)
    )
    joined = attribute_purchases(clicks_s, purchases_s)
    t0 = time.time()
    q = (
        joined.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(1800)
    wall = time.time() - t0

    per_batch_ms = batch_series(q, n_batches, state_rows=True)
    n_events = n_batches * (per_batch + per_batch // 4)
    n_pairs = spark.read.parquet(out).count()
    out_doc = {
        "metric": "stream_join_events_per_sec",
        "value": round(n_events / wall, 1),
        "unit": "events/sec",
        "n_batches_clicks_plus_purchases": len(per_batch_ms),
        "events_per_batch": per_batch + per_batch // 4,
        "n_events": n_events,
        "attributed_pairs": n_pairs,
        "wall_s": round(wall, 1),
        "per_batch": per_batch_ms,
        "last_over_first_steady_batch": last_over_first_steady(per_batch_ms),
    }
    shutil.rmtree(work, ignore_errors=True)
    if out_json:
        with open(out_json, "w") as fh:
            json.dump(out_doc, fh, indent=1, sort_keys=True)
    print(json.dumps(out_doc, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
