"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference has no custom state (SURVEY §2.11: "no
applyInPandasWithState / flatMapGroupsWithState"); this extends the
engine with the canonical example a training-data/analytics pipeline
needs: per-key running aggregates that survive across micro-batches with
explicit, bounded state.

Scale notes: state lives in the state store partitioned by the group key
(one shuffle per batch on user_id); state size is O(|keys| × state row),
independent of event volume. A processing-time timeout evicts idle keys,
which is the knob that keeps 100 TB-scale key churn bounded.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def _update_running_totals(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user running (count, sum) across micro-batches; emits the
    updated running values once per batch the key appears in."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
    )


def _make_expiring_session(timeout_ms: int):
    def _expiring_session(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """Session accumulator with idle-timeout eviction: while events keep
        arriving the session stays open (state updated, nothing emitted); when
        the key goes idle past the timeout, the final session row is emitted
        and the state removed — the canonical bounded-state pattern."""
        if state.hasTimedOut:
            n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n],
                 "total_value": [round(total, 6)], "closed": [1]}
            )
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        state.setTimeoutDuration(timeout_ms)  # ms of idleness before eviction
        yield pd.DataFrame(
            {"user_id": [], "n_events": [], "total_value": [], "closed": []}
        ).astype({"user_id": "int64", "n_events": "int64",
                  "total_value": "float64", "closed": "int64"})

    return _expiring_session


def expiring_user_sessions(
    events_stream: DataFrame, timeout_ms: int = 30_000
) -> DataFrame:
    """Streaming sessions that close (emit + evict state) after
    ``timeout_ms`` of processing-time idleness — state size stays
    O(active keys), the 100 TB requirement.

    The timeout is relative to the micro-batch that last saw the key;
    eviction fires in the first batch that runs after the deadline
    (including Spark's no-data maintenance batches), so the timeout must
    exceed the expected batch cadence or sessions close between triggers.
    """
    return (
        events_stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_expiring_session(timeout_ms),
            outputStructType="user_id long, n_events long, total_value double, closed long",
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def running_user_totals(events_stream: DataFrame) -> DataFrame:
    """Streaming per-user running totals with custom state.

    Input: a streaming DataFrame with (user_id long, value double).
    Output: one row per user per batch-with-activity, carrying the
    lifetime running count/total so far. Declared in append output mode
    (emissions are the function's explicit yields, one per batch) so the
    stream composes with append-only file sinks; update mode would
    require an update-capable sink (memory/kafka/foreach).
    """
    return (
        events_stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_running_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------- streaming heavy hitters: an MG sketch in the state store ----------
#
# The streaming twin of the batch two-pass heavy-hitter query
# (plans/analytics_ext4.py): keys are sharded with pmod(xxhash64) into
# HH_STREAM_SHARDS groups, and each shard's STATE is a Misra-Gries
# summary of at most HH_STREAM_K counters (stored as parallel
# keys/counts arrays plus the shard's lifetime row total) — bounded
# state for an UNBOUNDED key space, which per-key exact counting
# cannot give. Every key lives in exactly one shard, so the MG
# guarantee applies per shard: after n_shard rows, any key with shard
# frequency > n_shard/(K+1) is present in that shard's summary, and
# each reported count is a LOWER bound undercounting by at most
# n_shard/(K+1).
#
# Each batch the shard re-emits its full current summary (<= K rows per
# shard per batch, append mode): downstream picks the latest emission
# per shard via max(n_shard_rows) and applies the exact-verify pass if
# exact counts are needed (the batch query shows that join).

HH_STREAM_SHARDS = 16
HH_STREAM_K = 64

HH_OUTPUT_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("user_id", LongType()),
        StructField("lb_count", LongType()),
        StructField("n_shard_rows", LongType()),
    ]
)
HH_STATE_SCHEMA = StructType(
    [
        StructField("keys", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
        StructField("n_rows", LongType()),
    ]
)


def _update_hh_sketch(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    from ..operators.sketches import mg_merge

    if state.exists:
        keys, counts, n_rows = state.get
        counters = dict(zip(keys, counts))
    else:
        counters, n_rows = {}, 0
    for pdf in batches:
        n_rows += len(pdf)
        counters = mg_merge(
            counters,
            pdf.groupby("user_id").size().items(),
            HH_STREAM_K,
        )
    state.update(
        (list(counters.keys()), list(counters.values()), n_rows)
    )
    yield pd.DataFrame(
        {
            "shard": [int(key[0])] * len(counters),
            "user_id": list(counters.keys()),
            "lb_count": list(counters.values()),
            "n_shard_rows": [n_rows] * len(counters),
        }
    )


def streaming_heavy_hitters(events_stream: DataFrame) -> DataFrame:
    """Streaming heavy-hitter candidates with bounded per-shard state.

    Input: a streaming DataFrame with (user_id long). Output: per batch
    and shard, the shard's full current MG summary — (shard, user_id,
    lb_count lower bound, n_shard_rows lifetime total). Append mode."""
    from pyspark.sql import functions as F

    sharded = events_stream.select(
        F.pmod(F.xxhash64("user_id"), F.lit(HH_STREAM_SHARDS))
        .cast("long")
        .alias("shard"),
        "user_id",
    )
    return sharded.groupBy("shard").applyInPandasWithState(
        _update_hh_sketch,
        outputStructType=HH_OUTPUT_SCHEMA,
        stateStructType=HH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------- per-user quota gate (admission control) ----------
#
# The ingestion rate-limiter: each user may contribute at most
# ``quota`` events across the stream's lifetime (a crawler cap, an
# abuse throttle, a per-source contribution ceiling in a training-data
# intake). Events beyond the quota are EMITTED but flagged — the
# quarantine-not-drop convention of the bronze DQ split, so admitted +
# rejected always reconciles with the input. State per key is ONE long
# (events admitted so far): bounded, timeout-free, O(|keys|).
#
# Determinism: within a batch the group's rows are sorted by
# (ts, event_id) before the quota line is drawn, so which events get
# admitted does not depend on shuffle arrival order — replays and
# reruns admit the identical set.

QUOTA_OUTPUT_SCHEMA = (
    "user_id long, event_id long, admitted boolean, n_admitted_after long"
)
QUOTA_STATE_SCHEMA = StructType([StructField("n_admitted", LongType())])


def _make_quota_gate(quota: int):
    def _quota_gate(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (n_admitted,) = state.get if state.exists else (0,)
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            state.update((n_admitted,))
            return
        pdf = pd.concat(pdfs).sort_values(["ts", "event_id"])
        room = max(0, quota - n_admitted)
        admitted_mask = [i < room for i in range(len(pdf))]
        n_admitted += min(room, len(pdf))
        state.update((int(n_admitted),))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(pdf),
                "event_id": pdf["event_id"].to_list(),
                "admitted": admitted_mask,
                "n_admitted_after": [int(n_admitted)] * len(pdf),
            }
        )

    return _quota_gate


def user_quota_gate(
    events_stream: DataFrame, quota: int = 100
) -> DataFrame:
    """Admission-control gate: at most ``quota`` admitted events per
    user across the stream, every event emitted with its verdict."""
    return (
        events_stream.select("user_id", "event_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_quota_gate(quota),
            outputStructType=QUOTA_OUTPUT_SCHEMA,
            stateStructType=QUOTA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------- per-user running top-k (value-dependent eviction) ----------
#
# The arbitrary-state class the window/dedup stages cannot express:
# whether an arriving event ENTERS the state and which state row it
# EVICTS depends on the event's VALUE relative to the rows already
# held — not on time, keys, or uniqueness. Per user the state is the
# running top-K events by (value DESC, event_id ASC) plus a lifetime
# event counter; an arriving event displaces the current minimum iff
# it outranks it. State is exactly K (value, event_id) pairs + one
# counter per user — bounded for unbounded input, O(|users| · K).
#
# Emission contract (append mode): each batch a user appears in emits
# the user's FULL current top-k tagged with the lifetime counter
# n_seen; n_seen strictly increases per emission, so the FINAL ranking
# is the emission with max(n_seen) per user — the same latest-pick
# convention as the MG heavy-hitter stage. The batch contract is
# plans/analytics_ext8.user_topk_events (strict DuckDB oracle):
# final streamed rows == row_number()-top-K over the complete input,
# INCLUDING the n_seen counter (== the user's total event count).
#
# Reference lineage: the gold layer's rank-within-user window
# (`03_gold_layer_aggregation.py:25-28`) is this shape's batch
# ancestor; the streaming form keeps the heap in the state store
# instead of re-scanning history each trigger.

# Defined in the lightweight constants module so batch plan registries
# can interpolate it without importing this (pandas-heavy) module;
# re-exported here because the streaming stage is its primary user.
from ..constants import TOPK_K  # noqa: E402
TOPK_OUTPUT_SCHEMA = (
    "user_id long, rank long, event_id long, value double, n_seen long"
)
TOPK_STATE_SCHEMA = StructType(
    [
        StructField("event_ids", ArrayType(LongType())),
        StructField("values", ArrayType(DoubleType())),
        StructField("n_seen", LongType()),
    ]
)


def _make_topk_update(k: int):
    def _update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids, vals, n_seen = state.get
            cur = list(zip(vals, ids))
        else:
            cur, n_seen = [], 0
        for pdf in batches:
            n_seen += len(pdf)
            cur.extend(
                zip(
                    (float(v) for v in pdf["value"]),
                    (int(i) for i in pdf["event_id"]),
                )
            )
        # total order (value DESC, event_id ASC): ties cannot depend on
        # arrival order, so replays emit identical rankings
        cur.sort(key=lambda t: (-t[0], t[1]))
        cur = cur[:k]
        state.update(
            (
                [i for _, i in cur],
                [v for v, _ in cur],
                int(n_seen),
            )
        )
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(cur),
                "rank": list(range(1, len(cur) + 1)),
                "event_id": [i for _, i in cur],
                "value": [v for v, _ in cur],
                "n_seen": [int(n_seen)] * len(cur),
            }
        )

    return _update


def user_running_topk(
    events_stream: DataFrame, k: int = TOPK_K
) -> DataFrame:
    """Streaming per-user running top-k events by value — see the
    section comment above for the state class and emission contract."""
    return (
        events_stream.select("user_id", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_topk_update(k),
            outputStructType=TOPK_OUTPUT_SCHEMA,
            stateStructType=TOPK_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def start_user_topk(
    spark,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = TOPK_K,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Production stage wrapper: file-stream source → running top-k →
    append parquet sink with exactly-once checkpointing (same harness
    as the window stages in streaming/windows.py)."""
    from .windows import EVENTS_SCHEMA, _start

    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src_dir)
    return _start(
        user_running_topk(stream, k),
        out_dir,
        checkpoint_dir,
        "user_topk",
        available_now,
    )
