"""Per-batch progress series for the streaming bench tools
(bench_cc_ingest, bench_pair_ingest, bench_session_rollup,
bench_stream_join).

Each tool drains n_batches files through one stage and reports the
per-batch trigger durations: a flat curve is the evidence that per-batch
cost does not grow with the stage's accumulated history.
"""

from __future__ import annotations

import sys


def retain_progress(spark, n_batches: int) -> None:
    """``recentProgress`` keeps only the last ~100 updates by default, so
    a longer run silently truncates the series to its tail. Keep one slot
    per expected micro-batch, plus slack for empty/startup triggers."""
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates",
        str(max(100, 2 * n_batches + 10)),
    )


def batch_series(query, n_batches: int, state_rows: bool = False) -> list:
    """One ``{batch_id, rows, trigger_ms[, state_rows]}`` record per
    micro-batch that read input; warns when fewer than ``n_batches``
    were retained."""
    rows = []
    for p in query.recentProgress:
        if int(p["numInputRows"]) == 0:
            continue
        row = {
            "batch_id": int(p["batchId"]),
            "rows": int(p["numInputRows"]),
            "trigger_ms": int(p["durationMs"]["triggerExecution"]),
        }
        if state_rows:
            row["state_rows"] = sum(
                int(s.get("numRowsTotal", 0))
                for s in p.get("stateOperators", [])
            )
        rows.append(row)
    if len(rows) < n_batches:
        print(
            f"WARNING: only {len(rows)}/{n_batches} per-batch progress "
            "rows retained; the per-batch series is truncated",
            file=sys.stderr,
        )
    return rows


def last_over_first_steady(rows: list) -> float | None:
    """Last batch's trigger time over the first after the batch-0
    warm-up; None with fewer than two steady batches."""
    steady = [r["trigger_ms"] for r in rows[1:]]
    if len(steady) < 2 or steady[0] <= 0:
        return None
    return round(rows[-1]["trigger_ms"] / steady[0], 2)
