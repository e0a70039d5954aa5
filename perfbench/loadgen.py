"""Seeded, vectorised load generator for the medallion workloads.

Rows follow the activity-log contract of ``datagen.make_activity_frame``:
``log_`` + 9-digit ids, the 5,000-user pool, the 765-IP pool, integer
watch time in [1, 120), ~10% intra-file duplicates capped at 500 per
file, and the four dirty-row kinds (null log_id, null user_id,
unparseable timestamp, negative watch time) on 1% of rows, which bronze
quarantines.

Unlike ``make_activity_frame`` (uniform timestamps over 69 days, which
puts every landing after the first behind silver's 2-hour watermark),
event time here arrives in order: landing ``k`` covers
``[ANCHOR + k*30min, ANCHOR + (k+1)*30min)``. On top of that

* 2% of rows are 3-6 h behind their landing, far enough past the
  watermark that silver drops them as late;
* 5% of rows are exact copies of rows of the previous file, which
  silver drops as duplicates.

The generator also replays silver's semantics (late filter against the
watermark of the previous batches, then keyed dedup) to record the exact
expected valid, quarantine, late-dropped and silver row counts.

Each landing is one CSV file, written into a staging directory outside
``raw/`` and moved in by ``land()`` with ``os.replace``, so the stream
never sees a partial file.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv

from investcloud_data_pipeline_spark import datagen

USER_POOL = datagen.USER_POOL
IP_POOL = np.array(datagen.IP_POOL)
ANCHOR_S = 1_709_251_200  # 2024-03-01T00:00:00Z, as in datagen.ANCHOR
WATERMARK_S = 2 * 3600  # silver's dedup horizon (config.WATERMARK_DELAY)
ID_MULT = 123_456_791  # coprime to 10**9: a bijection on the id space
CSV_OPTS = pcsv.WriteOptions(quoting_style="none")
STEP_S = 30 * 60  # event-time span of one landing
LATE_FRACTION = 0.02
REDELIVER_FRACTION = 0.05
DUP_FRACTION, DUP_CAP = 0.1, 500  # intra-file duplicates, as datagen
DIRTY_FRACTION = 0.01


@dataclass
class Landing:
    """One landing: the staged file and the counts it must produce."""

    index: int
    path: str
    rows: int = 0
    valid: int = 0
    quarantine: int = 0
    late: int = 0
    silver: int = 0


@dataclass
class Expected:
    landings: list[Landing] = field(default_factory=list)

    def totals(self) -> dict[str, int]:
        """Expected counts summed over all landings."""
        out = {"rows": 0, "valid": 0, "quarantine": 0, "late": 0, "silver": 0}
        for lnd in self.landings:
            for k in out:
                out[k] += getattr(lnd, k)
        return out


def _file_columns(
    rng: np.random.Generator, first_row: int, rows: int, base_s: int, id_offset: int
) -> dict[str, np.ndarray]:
    ids = (np.arange(first_row, first_row + rows, dtype=np.int64) * ID_MULT
           + id_offset) % 10**9
    ts = base_s + rng.integers(0, STEP_S, rows)
    late = rng.random(rows) < LATE_FRACTION
    ts[late] = base_s - rng.integers(3 * 3600, 6 * 3600, int(late.sum()))
    return {
        "id": ids,
        "user": rng.integers(0, USER_POOL, rows),
        "ts": ts,
        "ip": rng.integers(0, len(IP_POOL), rows),
        "watch": rng.integers(1, 120, rows),
        # dirty kinds: -1 clean, 0 null log_id, 1 null user_id,
        # 2 unparseable timestamp, 3 negative watch time
        "dirty": np.full(rows, -1, dtype=np.int8),
    }


def _copy_rows(dst: dict, dst_idx: np.ndarray, src: dict, src_idx: np.ndarray) -> None:
    for k in dst:
        dst[k][dst_idx] = src[k][src_idx]


def _to_table(cols: dict[str, np.ndarray]) -> pa.Table:
    d = cols["dirty"]
    id_str = pc.binary_join_element_wise(
        "log_", pc.utf8_lpad(pa.array(cols["id"]).cast(pa.string()), 9, "0"), ""
    )
    user_str = pc.binary_join_element_wise(
        "user_", pc.utf8_lpad(pa.array(cols["user"]).cast(pa.string()), 5, "0"), ""
    )
    ts_str = pc.strftime(
        pa.array(cols["ts"], pa.timestamp("s")), format="%Y-%m-%dT%H:%M:%S"
    )
    ts_str = pc.if_else(pa.array(d == 2), "not-a-timestamp", ts_str)
    watch = np.where(d == 3, -5, cols["watch"]).astype(np.int64)
    return pa.table(
        {
            "log_id": pc.if_else(pa.array(d == 0), pa.scalar(None, pa.string()), id_str),
            "user_id": pc.if_else(pa.array(d == 1), pa.scalar(None, pa.string()), user_str),
            "timestamp": ts_str,
            "ip_address": pa.array(IP_POOL[cols["ip"]]),
            "watch_time(min)": pa.array(watch),
        }
    )


def generate(stage_dir: str, seed: int, landings: int, rows: int) -> Expected:
    """Write ``landings`` CSV files of ``rows`` rows each into
    ``stage_dir`` and return the per-landing expected counts."""
    os.makedirs(stage_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    id_offset = int(rng.integers(0, 10**9))
    exp = Expected()
    prev: dict | None = None
    # silver replay state: watermark input and the keys held in state
    max_ts: int | None = None
    seen_ids = np.empty(0, np.int64)
    seen_exp = np.empty(0, np.int64)  # state expiry: event time + horizon
    for k in range(landings):
        cols = _file_columns(rng, k * rows, rows, ANCHOR_S + k * STEP_S, id_offset)
        if prev is not None:
            m = int(rows * REDELIVER_FRACTION)
            _copy_rows(cols, rng.choice(rows, m, replace=False), prev,
                       rng.integers(0, rows, m))
        n_dups = min(int(rows * DUP_FRACTION), DUP_CAP)
        _copy_rows(cols, np.arange(rows - n_dups, rows), cols,
                   rng.integers(0, rows - n_dups, n_dups))
        idx = rng.choice(rows, max(1, int(rows * DIRTY_FRACTION)), replace=False)
        cols["dirty"][idx] = rng.integers(0, 4, len(idx))
        lnd = Landing(k, os.path.join(stage_dir, f"activity_{k:04d}.csv"))
        pcsv.write_csv(_to_table(cols), lnd.path, CSV_OPTS)
        prev = cols

        valid = cols["dirty"] < 0
        lnd.rows = rows
        lnd.valid = int(valid.sum())
        lnd.quarantine = rows - lnd.valid
        ts, ids = cols["ts"][valid], cols["id"][valid]
        late = np.zeros(len(ts), bool)
        if max_ts is not None:
            wm = max_ts - WATERMARK_S
            late = ts <= wm
            keep = seen_exp >= wm
            seen_ids, seen_exp = seen_ids[keep], seen_exp[keep]
        lnd.late = int(late.sum())
        keys, first = np.unique(ids[~late], return_index=True)
        fresh = ~np.isin(keys, seen_ids)
        lnd.silver = int(fresh.sum())
        seen_ids = np.concatenate([seen_ids, keys[fresh]])
        seen_exp = np.concatenate([seen_exp, ts[~late][first][fresh] + WATERMARK_S])
        if len(ts):
            max_ts = int(ts.max()) if max_ts is None else max(max_ts, int(ts.max()))
        exp.landings.append(lnd)
    return exp


def land(lnd: Landing, raw_dir: str) -> None:
    """Move a landing's staged file into ``raw_dir`` (an atomic rename)."""
    os.replace(lnd.path, os.path.join(raw_dir, os.path.basename(lnd.path)))
