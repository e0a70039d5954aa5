"""medallion_trickle: closed-loop landings through bronze → silver → gold.

The pipeline is started with the engine's public entry point
``streaming.pipeline.start_continuous(..., fmt="csv", trigger_seconds=0)``.
One operation is one landing: its file is renamed into ``raw/`` and
the operation ends when ``processAllAvailable()`` has returned for
bronze, then silver, then gold. The next landing starts only then.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import loadgen
from spans import Tracer, batch_end_ms, batch_start_ms, progress_batches

QUERIES = ("bronze", "silver", "gold")  # start_continuous returns them in this order

ROWS = 2_000  # rows per landing (one CSV file)
NOMINAL_S = 1.7  # seconds per landing on 4 cores: --seconds / NOMINAL_S landings
# Landings before the clock (JIT, planning, first state versions); with
# five, latency was still falling through the timed phase.
WARMUP = 8


def timed_landings(seconds: float) -> int:
    return max(3, round(seconds / NOMINAL_S))


class Pipeline:
    """One running bronze/silver/gold pipeline under ``root``."""

    def __init__(self, spark, root: str, seed: int):
        from investcloud_data_pipeline_spark.config import PipelinePaths
        from investcloud_data_pipeline_spark.datagen import make_ip_region_frame
        from investcloud_data_pipeline_spark.streaming.pipeline import start_continuous

        self.paths = PipelinePaths(root)
        ip_regions = spark.createDataFrame(make_ip_region_frame(seed))
        self.queries = start_continuous(
            spark, self.paths, ip_regions, fmt="csv", trigger_seconds=0
        )

    def land(self, lnd: loadgen.Landing, tracer: Tracer, parent: int | None = None
             ) -> tuple[float, list[float]]:
        """One closed-loop operation; returns the landing's epoch time and
        the perf-counter times at which bronze, silver and gold were done."""
        with tracer.span("landing", op=lnd.index, parent=parent) as sp:
            wall = time.time()
            with tracer.span("rename", op=lnd.index, parent=sp):
                loadgen.land(lnd, self.paths.raw)
            done = []
            for name, q in zip(QUERIES, self.queries):
                with tracer.span(f"{name}.process_all_available", op=lnd.index, parent=sp):
                    q.processAllAvailable()
                done.append(time.perf_counter())
        return wall, done

    def stop(self) -> None:
        for q in self.queries:
            q.stop()


def run_landings(pipe: Pipeline, landings, tracer: Tracer) -> dict:
    """Timed closed loop over ``landings``."""
    lat, walls, split = [], [], []
    t0 = time.perf_counter()
    t0_ms = int(time.time() * 1000)
    for lnd in landings:
        start = time.perf_counter()
        wall, done = pipe.land(lnd, tracer)
        lat.append(done[-1] - start)
        walls.append(wall)
        split.append([b - a for a, b in zip([start] + done, done)])
    return {
        "latency": lat,
        "wall": time.perf_counter() - t0,
        "since_ms": t0_ms,
        "land_ms": [int(w * 1000) for w in walls],
        "split": split,
    }


def stream_layers(pipe: Pipeline, timed: dict) -> dict[str, float]:
    """Per-layer numbers for the timed landings, read from each query's
    ``StreamingQueryProgress``."""
    n = len(timed["latency"])
    out: dict[str, float] = {}
    batches = {name: progress_batches(q, timed["since_ms"]) for name, q in zip(QUERIES, pipe.queries)}
    ready = timed["land_ms"]  # when input became available, per landing
    for name in QUERIES:
        bs = batches[name]
        dur = [b["durationMs"] for b in bs]
        out[f"{name}.trigger_ms_per_landing"] = sum(d.get("triggerExecution", 0) for d in dur) / n
        out[f"{name}.add_batch_ms_per_landing"] = sum(d.get("addBatch", 0) for d in dur) / n
        out[f"{name}.list_ms_per_landing"] = sum(
            d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur) / n
        out[f"{name}.commit_ms_per_landing"] = sum(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur) / n
        out[f"{name}.batches_per_landing"] = len(bs) / n
        # A batch serves the landing during which it ended (the loop is
        # closed); its wait runs from when its input was ready: the
        # rename for bronze, the upstream's last batch end otherwise.
        waits, next_ready = [], []
        for i, r in enumerate(ready):
            lo = timed["land_ms"][i]
            hi = timed["land_ms"][i + 1] if i + 1 < n else float("inf")
            mine = [b for b in bs if b["numInputRows"] > 0 and lo <= batch_end_ms(b) < hi]
            if mine:
                waits.append(max(0, batch_start_ms(mine[0]) - r))
                next_ready.append(batch_end_ms(mine[-1]))
            else:
                next_ready.append(r)
        out[f"{name}.wait_ms_p50"] = statistics.median(waits) if waits else 0.0
        ready = next_ready
    silver = batches["silver"]
    ops = [b["stateOperators"][0] for b in silver if b.get("stateOperators")]
    last_op = pipe.queries[1].lastProgress["stateOperators"][0]
    late = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
    inserted = sum(o.get("numRowsUpdated", 0) for o in ops)
    rows_in = sum(b["numInputRows"] for b in silver)
    out["silver.state_rows"] = last_op["numRowsTotal"]
    out["silver.state_bytes"] = last_op["memoryUsedBytes"]
    out["silver.state_commit_ms_per_landing"] = sum(o.get("commitTimeMs", 0) for o in ops) / n
    out["silver.late_dropped_rows_per_landing"] = late / n
    out["silver.dedup_dropped_rows_per_landing"] = (rows_in - late - inserted) / n
    return out


def late_dropped_total(pipe: Pipeline) -> int:
    """Rows silver dropped behind its watermark over the whole run."""
    from investcloud_data_pipeline_spark.streaming.silver import late_drop_stats

    return late_drop_stats(pipe.queries[1].recentProgress)["rows_dropped_late"]


def check(paths, exp: loadgen.Expected, late_dropped: int) -> tuple[dict[str, bool], int]:
    """Output checks over everything landed in the run; returns each
    check's outcome and the quarantined row count."""
    import duckdb

    want = exp.totals()
    con = duckdb.connect()

    def count(glob: str) -> int:
        return con.sql(f"SELECT count(*) FROM read_parquet('{glob}')").fetchone()[0]

    bronze = count(f"{paths.bronze}/*/*.parquet")
    quarantine = count(f"{paths.quarantine}/*.parquet")
    silver = count(f"{paths.silver}/*/*.parquet")
    # gold must equal a per-user argmax recompute over the silver table
    gold_diff = con.sql(f"""
        WITH s AS (SELECT * FROM read_parquet('{paths.silver}/*/*.parquet')),
        t AS (SELECT user_id, geo_region, sum(watch_time) AS w FROM s GROUP BY ALL),
        r AS (SELECT user_id, geo_region, sum(w) OVER (PARTITION BY user_id) AS total,
                     row_number() OVER (PARTITION BY user_id ORDER BY w DESC, geo_region) AS rn
              FROM t),
        want AS (SELECT user_id, total AS total_watch_time, geo_region FROM r WHERE rn = 1),
        got AS (SELECT user_id, total_watch_time, geo_region
                FROM read_parquet('{paths.gold}/*.parquet'))
        SELECT count(*) FROM ((SELECT * FROM want EXCEPT SELECT * FROM got)
                              UNION ALL (SELECT * FROM got EXCEPT SELECT * FROM want))
    """).fetchone()[0]
    con.close()
    checks = {
        "bronze_rows": bronze + quarantine == want["rows"],
        "bronze_valid": bronze == want["valid"],
        "quarantine": quarantine == want["quarantine"],
        "silver_rows": silver == want["silver"],
        "late_dropped": late_dropped == want["late"],
        "gold_argmax": gold_diff == 0,
    }
    if not all(checks.values()):
        print(f"medallion checks failed: {[n for n, ok in checks.items() if not ok]}; "
              f"bronze={bronze} quarantine={quarantine} silver={silver} "
              f"late={late_dropped} gold_diff={gold_diff} want={want}", file=sys.stderr)
    return checks, quarantine


def files_written(paths) -> int:
    n = 0
    for d in (paths.bronze, paths.quarantine):
        for _, _, files in os.walk(d):
            n += sum(f.endswith(".parquet") for f in files)
    return n
