"""Exactly-once commit protocols for foreachBatch sinks.

Plain parquet directories have no transaction log, and Spark replays a
micro-batch whose commit log entry is missing, so a foreachBatch sink
must make a replayed epoch harmless itself. Two protocols:

* Appends: ``mark_sink_epoch`` writes ``<sink>/_epochs/<epoch>`` after
  the append's job commit; a replay checks ``sink_epoch_committed`` and
  skips sinks that already hold the epoch.
* Rewrites (merge/upsert targets, snapshot tables) use a versioned
  layout:

    <root>/v_<epoch>/...parquet      one immutable directory per epoch
    <root>/_COMMITTED                JSON {epoch_id, version_dir}

  The marker rename (``os.replace``) is the single commit point —
  readers resolve the marker first, so a crash mid-write leaves the
  previous version intact, and a replayed micro-batch (epoch_id ≤
  committed) is detected and skipped.

This is the minimal subset of what Delta's transaction log provided the
reference (SURVEY §2.13); the real fix at fleet scale is a lakehouse
table format, which sources/external.py gates on.
"""

from __future__ import annotations

import json
import os
import re
import shutil


def sink_epoch_committed(sink_dir: str, epoch_id: int) -> bool:
    """True if this micro-batch epoch already appended to ``sink_dir``."""
    return os.path.isfile(os.path.join(sink_dir, "_epochs", str(epoch_id)))


def mark_sink_epoch(sink_dir: str, epoch_id: int) -> None:
    """Record (after a successful append) that ``epoch_id`` is in the sink.

    The parquet batch append itself is all-or-nothing at the job level
    (Hadoop commit protocol), so marker-present == data-present; a
    replayed epoch after a partial failure skips exactly the sinks that
    committed, making the two-sink foreachBatch idempotent — the
    reference got this from Delta's transaction log (01:68), plain
    parquet sinks need the marker."""
    d = os.path.join(sink_dir, "_epochs")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, str(epoch_id)), "w"):
        pass


def read_committed(root: str) -> tuple[int, str | None]:
    """(last committed epoch, path of its version dir); (-1, None) if
    nothing has been committed yet."""
    marker = os.path.join(root, "_COMMITTED")
    if not os.path.isfile(marker):
        return -1, None
    with open(marker) as fh:
        state = json.load(fh)
    return int(state["epoch_id"]), os.path.join(root, state["version_dir"])


def commit_version(root: str, epoch_id: int, version_dir: str) -> None:
    """Atomically (write-temp + rename) mark ``version_dir`` committed."""
    marker = os.path.join(root, "_COMMITTED")
    tmp = marker + f".tmp.{epoch_id}"
    with open(tmp, "w") as fh:
        json.dump(
            {"epoch_id": epoch_id, "version_dir": os.path.basename(version_dir)},
            fh,
        )
    os.replace(tmp, marker)


def version_path(root: str, epoch_id: int) -> str:
    return os.path.join(root, f"v_{epoch_id}")


def _epoch_of(name: str) -> int:
    """Epoch id of a version dir name. Accepts both the plain
    ``v_<epoch>`` form and suffixed variants like ``v_<epoch>_compact``
    (written by offline maintenance ops that must re-commit under the
    SAME epoch to keep the stream's replay guard intact — round-11
    ADVICE: ``int("5_compact")`` used to raise here)."""
    return int(name[2:].split("_", 1)[0])


def _suffix_rank(name: str) -> tuple[int, str]:
    """Ordering rank of a version dir name WITHIN one epoch. A suffixed
    maintenance re-commit supersedes the plain dir, and repeated
    re-commits ('_compact', '_compact1', … '_compact10') supersede in
    NUMERIC suffix order — a lexical tie-break would sort
    'v_5_compact10' before 'v_5_compact9' and let GC retain the stale
    dir forever (round-12 ADVICE). Unknown suffixes fall back to a
    lexical rank above every numbered compact."""
    rest = name[2:].split("_", 1)
    if len(rest) < 2:
        return (-1, "")  # plain v_<epoch>: lowest rank
    suffix = rest[1]
    m = re.fullmatch(r"compact(\d*)", suffix)
    if m:
        return (int(m.group(1) or 0), "")
    return (1 << 30, suffix)


def drop_superseded(root: str, keep_dir: str, retain: int = 1) -> None:
    """Best-effort GC of older version dirs (never the committed one).

    ``retain`` keeps the newest N versions INCLUDING the committed one —
    retained older versions stay readable via ``read_version`` (time
    travel / incident debugging), the same retention dial as a table
    format's VACUUM."""
    keep = os.path.basename(keep_dir)
    versions = sorted(
        (n for n in os.listdir(root) if n.startswith("v_")),
        # tie-break same-epoch names by NUMERIC suffix index so a
        # suffixed re-commit (v_5_compact, then v_5_compact1, …)
        # deterministically outranks what it supersedes even past ten
        # re-commits, letting GC drop the stale dirs
        key=lambda n: (_epoch_of(n), _suffix_rank(n)),
        reverse=True,
    )
    retained = set(versions[: max(retain, 1)]) | {keep}
    for name in versions:
        if name not in retained:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def list_versions(root: str) -> list[int]:
    """Epoch ids of every version still on disk, oldest first. A
    suffixed maintenance re-commit (``v_5_compact`` next to ``v_5``)
    can yield a duplicated id until GC removes the superseded dir."""
    return sorted(
        _epoch_of(n) for n in os.listdir(root) if n.startswith("v_")
    )
