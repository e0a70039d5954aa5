"""In-memory spans recorded by the benchmark around its calls into the
engine, plus readers for the engine's own per-layer statistics: streaming
progress and the Spark event log.

Spans are kept in memory and written out when the run ends. Every span
carries the operation it belongs to (a landing or a query), so all spans
of one operation share that identifier. Time spent in the tracing calls
themselves is accumulated in ``overhead_s``.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, op: str | int | None = None, parent: int | None = None):
        """Record ``name`` around the block; yields the span id (None when
        tracing is off)."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "op": op, "name": name})
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            self.spans[sid].update(start=t0, end=t1)
            self.overhead_s += time.perf_counter() - t1

    def add(self, name: str, start: float, end: float, op=None, parent=None) -> None:
        """Record a span whose bounds were taken by the caller."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "parent": parent, "op": op,
                               "name": name, "start": start, "end": end})

    def job_group(self, sc, group: str) -> None:
        """Attribute the following Spark jobs to ``group`` (traced runs)."""
        if self.enabled:
            t0 = time.perf_counter()
            sc.setJobGroup(group, group)
            self.overhead_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if "end" in s:
                out[s["name"]] += s["end"] - s["start"] - child_time[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def progress_batches(query, since_ms: int) -> list[dict]:
    """Progress records of ``query`` for batches that ended at or after
    ``since_ms`` (epoch milliseconds), idle heartbeats excluded."""
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json)
        if d["durationMs"].get("addBatch") is not None and batch_end_ms(d) >= since_ms:
            out.append(d)
    return out


def batch_start_ms(progress: dict) -> int:
    from datetime import datetime

    ts = progress["timestamp"].replace("Z", "+00:00")
    return int(datetime.fromisoformat(ts).timestamp() * 1000)


def batch_end_ms(progress: dict) -> int:
    return batch_start_ms(progress) + progress["durationMs"].get("triggerExecution", 0)


def event_log_by_group(log_dir: str, since_ms: int, until_ms: int) -> dict[str, dict[str, float]]:
    """Per Spark job group, over the jobs submitted in ``[since_ms,
    until_ms]``: jobs, stages, tasks, executor run time (s), shuffle
    read/write bytes, spill bytes, GC time (s) and input records, parsed from the
    uncompressed event log in ``log_dir``."""
    stage_group: dict[int, str] = {}
    stats: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    # Spark 4 writes each application's log as rolling files in a directory
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if not since_ms <= ev.get("Submission Time", 0) <= until_ms:
                        continue
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                    stats[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None and "Submission Time" in ev["Stage Info"]:
                        stats[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    g = stats[group]
                    g["tasks"] += 1
                    g["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    g["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return {k: dict(v) for k, v in stats.items()}
