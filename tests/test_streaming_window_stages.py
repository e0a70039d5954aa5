"""Batch-equivalence for the registered streaming window stages: the
streamed parquet of each stage must equal its registry twin
(analytics_ext8.tumbling_watermark_rollup / sliding_watermark_rollup)
evaluated on the SAME input — the twin's strict DuckDB oracle then
transitively checks the streaming emission. Also pins replay
idempotence (a second availableNow drain over the same checkpoint
appends nothing)."""

from __future__ import annotations

import os

import pandas as pd

from investcloud_data_pipeline_spark.plans.analytics_ext8 import (
    sliding_watermark_rollup,
    tumbling_watermark_rollup,
)
from investcloud_data_pipeline_spark.streaming.windows import (
    start_sliding_rollup,
    start_tumbling_rollup,
)


def _write_events(tmp_path, n=400):
    rows = [
        (
            i,
            # monotone across the two files: file 2's events are all
            # later than file 1's, so nothing arrives behind the
            # watermark and append-mode emission is loss-free
            pd.Timestamp("2024-03-01") + pd.Timedelta(minutes=11 * i),
            i % 37,
            ["click", "view", "purchase"][i % 3],
            float(i % 89) + 0.25,
        )
        for i in range(n)
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    ).astype({"ts": "datetime64[us]"})
    src = str(tmp_path / "src")
    os.makedirs(src)
    # two files → two availableNow micro-batches (default admission)
    pdf.iloc[: n // 2].to_parquet(f"{src}/p1.parquet", index=False)
    pdf.iloc[n // 2 :].to_parquet(f"{src}/p2.parquet", index=False)
    # the registry twins read {sf_dir}/events.parquet via load_table:
    # point sf_dir at a directory holding the same rows
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    pdf.assign(props="{}").to_parquet(
        f"{sf_dir}/events.parquet", index=False
    )
    return src, sf_dir


def _rowset(df, has_end=False):
    cols = ["win_start", "event_type", "n", "total_micros"]
    return {
        (r.win_start, r.event_type, r.n, r.total_micros)
        for r in df.select(*cols).collect()
    }


def test_tumbling_stage_matches_registry_twin(spark, tmp_path):
    src, sf = _write_events(tmp_path)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = start_tumbling_rollup(spark, src, out, ck)
    q.awaitTermination(120)
    streamed = _rowset(spark.read.parquet(out))
    want = _rowset(tumbling_watermark_rollup(spark, sf))
    assert streamed == want and want
    # replay idempotence
    q2 = start_tumbling_rollup(spark, src, out, ck)
    q2.awaitTermination(120)
    assert _rowset(spark.read.parquet(out)) == want


def test_sliding_stage_matches_registry_twin(spark, tmp_path):
    src, sf = _write_events(tmp_path)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = start_sliding_rollup(spark, src, out, ck)
    q.awaitTermination(120)
    streamed = _rowset(spark.read.parquet(out))
    want = _rowset(sliding_watermark_rollup(spark, sf))
    assert streamed == want and want
    # every tumbling cell appears in 4 sliding windows' worth of rows:
    # the sliding set must be strictly larger on this input
    assert len(want) > len(
        _rowset(tumbling_watermark_rollup(spark, sf))
    )


def _write_bursty_events(tmp_path, n=402):
    """Bursts of 4 events per user at minutes 0/5/10/40 — the 4th
    arrives EXACTLY 30 min (= the session gap) after the 3rd, pinning
    the inclusive-merge boundary: F.session_window fuses an event
    arriving exactly gap after the previous one, so the oracle's
    gaps-and-islands split must be strictly `>` (an `>=` oracle would
    split every burst here and mismatch). Bursts 2 h apart: real
    session MERGING (unlike the 11-min-spaced fixture above, where
    every event is its own session). ts is monotone in i, so the two
    files split mid-burst — the session open at the end of micro-batch
    1 must merge with batch 2's continuation in state."""
    rows = []
    for i in range(n):
        burst, k = divmod(i, 4)
        rows.append(
            (
                i,
                pd.Timestamp("2024-03-01")
                + pd.Timedelta(hours=2 * burst, minutes=(0, 5, 10, 40)[k]),
                burst % 23,
                ["click", "view", "purchase"][i % 3],
                float(i % 89) + 0.25,
            )
        )
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    ).astype({"ts": "datetime64[us]"})
    src = str(tmp_path / "src")
    os.makedirs(src)
    pdf.iloc[: n // 2].to_parquet(f"{src}/p1.parquet", index=False)
    pdf.iloc[n // 2 :].to_parquet(f"{src}/p2.parquet", index=False)
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    pdf.assign(props="{}").to_parquet(
        f"{sf_dir}/events.parquet", index=False
    )
    return src, sf_dir


def _session_rowset(df):
    cols = ["session_start", "session_end", "user_id", "n", "total_micros"]
    return {tuple(r) for r in df.select(*cols).collect()}


def test_session_stage_matches_registry_twin(spark, tmp_path):
    from investcloud_data_pipeline_spark.plans.analytics_ext8 import (
        session_watermark_rollup,
    )
    from investcloud_data_pipeline_spark.streaming.windows import (
        start_session_rollup,
    )

    src, sf = _write_bursty_events(tmp_path)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    # one file per micro-batch: the burst split across the two files
    # must merge with its open session from batch 1
    q = start_session_rollup(
        spark, src, out, ck, max_files_per_trigger=1
    )
    q.awaitTermination(120)
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 2
    streamed = _session_rowset(spark.read.parquet(out))
    want = _session_rowset(session_watermark_rollup(spark, sf))
    assert streamed == want and want
    # the fixture's 4-event bursts must actually merge — including the
    # exact-gap 4th event: a full burst lands in ONE session of n=4
    # (an `>=` gaps-and-islands oracle would cap sessions at 3 events)
    assert any(t[3] > 1 for t in want)
    assert any(t[3] == 4 for t in want)
    # replay idempotence: a second drain over the same checkpoint
    # appends nothing
    q2 = start_session_rollup(spark, src, out, ck)
    q2.awaitTermination(120)
    assert _session_rowset(spark.read.parquet(out)) == want


def test_session_stage_merges_across_restart(spark, tmp_path):
    """Exactly-once across process restarts for MERGING state: drain 1
    leaves user 7's session OPEN in the checkpointed state store (the
    watermark has not passed its end); the continuation arrives while
    the query is DOWN; the restarted drain must recover the open
    session from the checkpoint and emit ONE merged row spanning both
    drains — not two fragments, not a duplicate."""
    from investcloud_data_pipeline_spark.plans.analytics_ext8 import (
        session_watermark_rollup,
    )
    from investcloud_data_pipeline_spark.streaming.windows import (
        start_session_rollup,
    )

    t0 = pd.Timestamp("2024-03-01 12:00:00")
    m = pd.Timedelta(minutes=1)

    def _write(path, rows):
        pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value"],
        ).astype({"ts": "datetime64[us]"}).to_parquet(path, index=False)

    src = str(tmp_path / "src")
    os.makedirs(src)
    # wave 1: user 7's open session (2 events), plus an old closed
    # session for user 3 an hour earlier (emitted in drain 1)
    _write(
        f"{src}/w1.parquet",
        [
            (1, t0 - 60 * m, 3, "view", 1.0),
            (2, t0 - 55 * m, 3, "click", 2.0),
            (10, t0, 7, "view", 1.0),
            (11, t0 + 5 * m, 7, "click", 2.0),
        ],
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = start_session_rollup(spark, src, out, ck)
    q.awaitTermination(120)

    # wave 2 lands while the query is DOWN: user 7's continuation
    # (10 min after their last event — inside the 30-min gap) plus a
    # far-future clock event that closes every session
    _write(
        f"{src}/w2.parquet",
        [
            (12, t0 + 15 * m, 7, "purchase", 3.0),
            (99, t0 + 600 * m, 999, "view", 0.0),
        ],
    )
    q2 = start_session_rollup(spark, src, out, ck)
    q2.awaitTermination(120)

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    pd.concat(
        [pd.read_parquet(f"{src}/w1.parquet"),
         pd.read_parquet(f"{src}/w2.parquet")]
    ).assign(props="{}").to_parquet(f"{sf_dir}/events.parquet", index=False)
    got = _session_rowset(spark.read.parquet(out))
    want = _session_rowset(session_watermark_rollup(spark, sf_dir))
    assert got == want and want
    # the cross-restart merge, explicitly: ONE user-7 session with all
    # 3 events (two from before the restart, one after)
    u7 = [t for t in got if t[2] == 7]
    assert len(u7) == 1 and u7[0][3] == 3, u7
