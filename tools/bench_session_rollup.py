"""Throughput + state-boundedness benchmark for the session-window
rollup stage (streaming/windows.py::start_session_rollup).

One file stream (maxFilesPerTrigger=1) of bursty per-user events is
drained through the merging session-window aggregate into a parquet
sink. Each batch's bursts CONTINUE across the file boundary for a
slice of users (events land mid-session), so the state store must
merge open sessions batch-over-batch — the expensive path of the
merging-window operator, not just insert-and-evict. Reported: events/s
end-to-end, per-batch trigger durations (flat curve = watermark
eviction bounds state even as emitted-session history grows), the
state-store row series, and an exactness check: the streamed session
set must equal the batch twin (analytics_ext8.session_watermark_rollup
semantics) computed on the full input.

Usage: python tools/bench_session_rollup.py [out.json] [n_batches] [events_per_batch]
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
    per_batch = int(sys.argv[3]) if len(sys.argv) > 3 else 25000

    import pandas as pd
    from pyspark.sql import functions as F

    from investcloud_data_pipeline_spark.constants import WINDOW_DELAY
    from investcloud_data_pipeline_spark.plans.analytics_ext8 import (
        closed_window_rollup,
    )
    from investcloud_data_pipeline_spark.session import get_spark
    from investcloud_data_pipeline_spark.streaming.windows import (
        start_session_rollup,
    )
    from stream_progress import batch_series, last_over_first_steady, retain_progress

    spark = get_spark("bench_session_rollup")
    retain_progress(spark, n_batches)
    work = tempfile.mkdtemp(prefix="session_rollup_bench_")
    src, out, ck = (os.path.join(work, d) for d in ("src", "out", "ck"))
    os.makedirs(src)

    # Bursts of 5 events 2 min apart (inside the 30-min gap), one burst
    # per (user, burst-slot); burst slots advance 2 h apart so closed
    # sessions retire behind the watermark. The LAST burst of each file
    # straddles into the next file: its tail events carry the same
    # timestamps band, so the open session merges across micro-batches.
    t_base = pd.Timestamp("2024-05-01")
    n_users = 2000
    rows_per_burst = 5
    for b in range(n_batches):
        recs = []
        for i in range(per_batch):
            g = b * per_batch + i
            burst, k = divmod(g, rows_per_burst)
            recs.append(
                (
                    g,
                    t_base
                    + pd.Timedelta(hours=2 * (burst // n_users))
                    + pd.Timedelta(minutes=2 * k),
                    burst % n_users,
                    ("click", "view", "purchase")[g % 3],
                    float(g % 89) + 0.25,
                )
            )
        pdf = pd.DataFrame(
            recs,
            columns=["event_id", "ts", "user_id", "event_type", "value"],
        ).astype({"ts": "datetime64[us]"})
        pdf.to_parquet(f"{src}/b{b:03d}.parquet", index=False)

    t0 = time.time()
    q = start_session_rollup(
        spark, src, out, ck, max_files_per_trigger=1
    )
    q.awaitTermination(1800)
    wall = time.time() - t0

    per_batch_ms = batch_series(q, n_batches, state_rows=True)
    n_events = n_batches * per_batch
    emitted = spark.read.parquet(out)
    n_sessions = emitted.count()

    # Exactness: streamed emission == the batch twin's closed-session
    # rollup computed over the full input.
    full = spark.read.parquet(src)
    want = closed_window_rollup(
        full, F.session_window("ts", WINDOW_DELAY), "user_id", "session"
    )
    diff = emitted.exceptAll(want).count() + want.exceptAll(emitted).count()

    out_doc = {
        "metric": "session_rollup_events_per_sec",
        "value": round(n_events / wall, 1),
        "unit": "events/sec",
        "n_batches": len(per_batch_ms),
        "events_per_batch": per_batch,
        "n_events": n_events,
        "sessions_emitted": n_sessions,
        "streamed_equals_batch_twin": diff == 0,
        "wall_s": round(wall, 1),
        "per_batch": per_batch_ms,
        "last_over_first_steady_batch": last_over_first_steady(per_batch_ms),
    }
    print(json.dumps(out_doc))
    if out_json:
        with open(out_json, "w") as fh:
            json.dump(out_doc, fh, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    return 0 if diff == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
