"""Incremental connected-components maintenance (operators/
graph_incremental.py): per batch of new dedup-graph edges, only the
touched components are recontracted; the labelling after every batch
must equal a from-scratch ``connected_components_star`` over all edges
seen so far (same min-member-id labels).
"""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from investcloud_data_pipeline_spark.operators.graph import (
    connected_components_star,
)
from investcloud_data_pipeline_spark.operators.graph_incremental import (
    cc_read,
    cc_update_batch,
    start_cluster_ingest,
)


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "id1 long, id2 long")


def _labels(df):
    return {(r.node, r.component) for r in df.collect()}


def _scratch(spark, all_pairs):
    return _labels(
        connected_components_star(
            _edges_df(spark, all_pairs), src="id1", dst="id2"
        ).selectExpr("node", "component")
    )


def test_incremental_equals_scratch_per_batch(spark, tmp_path):
    """Three batches covering every interesting transition:
    batch 1 creates components {1,2,3} and {10,11};
    batch 2 BRIDGES them (value-carrying merge of two existing
    components) and adds a fresh one {20,21};
    batch 3 merges THAT into the big component — the remap row written
    in batch 2 must chase the batch-3 merge (composition/single-hop
    invariant), and {30,31} stays untouched."""
    members, remap = str(tmp_path / "m"), str(tmp_path / "r")
    batches = [
        [(1, 2), (2, 3), (10, 11)],
        [(3, 10), (20, 21), (30, 31)],
        [(21, 11)],
    ]
    seen = []
    for edges in batches:
        seen.extend(edges)
        cc_update_batch(
            spark, _edges_df(spark, edges), members, remap
        )
        got = _labels(cc_read(spark, members, remap))
        assert got == _scratch(spark, seen), f"after {edges}"
    # final shape: {1,2,3,10,11,20,21} -> 1, {30,31} -> 30
    got = dict(_labels(cc_read(spark, members, remap)))
    assert got == {1: 1, 2: 1, 3: 1, 10: 1, 11: 1, 20: 1, 21: 1,
                   30: 30, 31: 30}
    # single-hop invariant: no remap key appears as a value
    from investcloud_data_pipeline_spark.operators.graph_incremental import (
        _read_remap,
    )

    r = _read_remap(spark, remap)
    keys = {x.comp_old for x in r.collect()}
    vals = {x.comp_new for x in r.collect()}
    assert not keys & vals


def test_duplicate_and_intra_component_edges_are_noops(spark, tmp_path):
    members, remap = str(tmp_path / "m"), str(tmp_path / "r")
    cc_update_batch(spark, _edges_df(spark, [(1, 2), (2, 3)]),
                    members, remap)
    before = _labels(cc_read(spark, members, remap))
    # replayed edge + intra-component edge: labelling unchanged, no
    # member-store growth
    n0 = spark.read.parquet(members).count()
    cc_update_batch(spark, _edges_df(spark, [(1, 2), (1, 3)]),
                    members, remap)
    assert _labels(cc_read(spark, members, remap)) == before
    assert spark.read.parquet(members).count() == n0


def test_member_store_is_append_only_and_shard_pruned(spark, tmp_path):
    """Affected-component-only contract, storage side: folding new
    edges must never rewrite existing member files (stored components
    are updated via the remap, not in place), and the probe plan's
    scan carries a shard partition filter."""
    members, remap = str(tmp_path / "m"), str(tmp_path / "r")
    cc_update_batch(
        spark,
        _edges_df(spark, [(i, i + 1000) for i in range(50)]),
        members,
        remap,
    )

    def _files(d):
        return {
            os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
            for dp, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        }

    before = _files(members)
    cc_update_batch(
        spark, _edges_df(spark, [(0, 1), (2000, 2001)]), members, remap
    )
    after = _files(members)
    # every pre-existing file untouched byte-for-byte (same path, same
    # mtime); growth is new files only
    assert set(before) <= set(after)
    assert all(after[p] == t for p, t in before.items())
    assert _labels(cc_read(spark, members, remap)) == _scratch(
        spark,
        [(i, i + 1000) for i in range(50)] + [(0, 1), (2000, 2001)],
    )
    # the probe's member scan is shard-partition-filtered
    probe = spark.read.schema(
        "node long, comp0 long, shard int"
    ).parquet(members).filter(F.col("shard").isin([3, 7]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    assert m and "shard" in m.group(0), plan


def test_streaming_cluster_ingest_e2e(spark, tmp_path):
    """File-stream form: three pair files drained as micro-batches;
    after the drain the labelling equals from-scratch CC over the
    union, and a replay drain changes nothing (exactly-once)."""
    import pandas as pd

    src = str(tmp_path / "pairs")
    os.makedirs(src)
    batches = [
        [(1, 2), (2, 3), (10, 11)],
        [(3, 10), (20, 21)],
        [(21, 11), (40, 41)],
    ]
    for i, pairs in enumerate(batches):
        pd.DataFrame(pairs, columns=["id1", "id2"]).to_parquet(
            f"{src}/p{i}.parquet", index=False
        )
    members, remap, ck = (
        str(tmp_path / d) for d in ("m", "r", "ck")
    )
    q = start_cluster_ingest(spark, src, members, remap, ck)
    q.awaitTermination(120)
    want = _scratch(spark, [p for b in batches for p in b])
    assert _labels(cc_read(spark, members, remap)) == want and want

    n0 = spark.read.parquet(members).count()
    q2 = start_cluster_ingest(spark, src, members, remap, ck)
    q2.awaitTermination(120)
    assert _labels(cc_read(spark, members, remap)) == want
    assert spark.read.parquet(members).count() == n0


@pytest.mark.slow
def test_chained_behind_pair_ingest(spark, tmp_path):
    """Full chain: documents -> start_neardup_pair_ingest (pairs_dir)
    -> start_cluster_ingest; incremental cluster ids equal the batch
    connected_components_star over the emitted pair set."""
    import pandas as pd

    from investcloud_data_pipeline_spark.streaming.documents import (
        start_neardup_pair_ingest,
    )

    docs_src = str(tmp_path / "docs")
    os.makedirs(docs_src)
    texts = {
        1: "the quick brown fox jumps over the lazy dog today",
        2: "the quick brown fox jumps over the lazy dog today",
        3: "an entirely different document about spark streaming",
        4: "the quick brown fox jumps over the lazy dog yesterday",
        5: "an entirely different document about spark streaming",
    }
    for i, (doc_id, text) in enumerate(sorted(texts.items())):
        pd.DataFrame(
            {"doc_id": [doc_id], "text": [text]}
        ).to_parquet(f"{docs_src}/d{i}.parquet", index=False)

    pairs_dir, members_dir, ck1 = (
        str(tmp_path / d) for d in ("pairs", "pmembers", "ck1")
    )
    table = "t_ccchain_band_index"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a crashed earlier run can leave the managed-table LOCATION behind
    # without its catalog entry; saveAsTable then fails with
    # LOCATION_ALREADY_EXISTS — clear the orphan too
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(os.path.join(wh, table), ignore_errors=True)
    q = start_neardup_pair_ingest(
        spark, docs_src, pairs_dir, members_dir, ck1, index_table=table
    )
    q.awaitTermination(180)

    cc_m, cc_r, ck2 = (
        str(tmp_path / d) for d in ("ccm", "ccr", "ck2")
    )
    q2 = start_cluster_ingest(spark, pairs_dir, cc_m, cc_r, ck2)
    q2.awaitTermination(120)

    pairs = [
        (r.id1, r.id2)
        for r in spark.read.parquet(pairs_dir)
        .select("id1", "id2")
        .collect()
    ]
    assert pairs  # the exact-dup + near-dup fixtures must collide
    want = _scratch(spark, pairs)
    assert _labels(cc_read(spark, cc_m, cc_r)) == want


def test_compaction_folds_remap_and_preserves_labels(spark, tmp_path):
    """cc_compact folds the accumulated merge history into comp0 and
    resets the remap: labels identical before/after, remap 0 rows,
    shard partitioning + epoch markers preserved, and subsequent
    incremental updates keep matching from-scratch CC."""
    from investcloud_data_pipeline_spark.operators.graph_incremental import (
        _read_remap,
        cc_compact,
    )

    members, remap = str(tmp_path / "m"), str(tmp_path / "r")
    batches = [
        [(1, 2), (2, 3), (10, 11)],
        [(3, 10), (20, 21), (30, 31)],
        [(21, 11)],
    ]
    seen = []
    for edges in batches:
        seen.extend(edges)
        cc_update_batch(spark, _edges_df(spark, edges), members, remap)
    before = _labels(cc_read(spark, members, remap))
    assert _read_remap(spark, remap).count() > 0  # history to fold

    n_markers = len(os.listdir(os.path.join(members, "_epochs")))
    stats = cc_compact(spark, members, remap)
    assert stats["remap_rows_folded"] > 0
    assert _read_remap(spark, remap).count() == 0
    assert _labels(cc_read(spark, members, remap)) == before
    # shard layout + markers survive the swap
    assert any(
        e.startswith("shard=") for e in os.listdir(members)
    )
    assert len(os.listdir(os.path.join(members, "_epochs"))) == n_markers

    # the stream keeps going after compaction: a new bridge merge
    # composed against the RESET remap still equals from-scratch
    more = [(31, 1), (50, 51)]
    seen.extend(more)
    cc_update_batch(spark, _edges_df(spark, more), members, remap)
    assert _labels(cc_read(spark, members, remap)) == _scratch(
        spark, seen
    )
    # idempotence: compacting again folds the new (tiny) history too
    cc_compact(spark, members, remap)
    assert _labels(cc_read(spark, members, remap)) == _scratch(
        spark, seen
    )


@pytest.mark.slow
def test_remap_version_gc_and_compact_dir_parses(spark, tmp_path):
    """Round-11 ADVICE: (a) cc_update_batch must GC superseded remap
    version dirs (one full remap copy per micro-batch accumulated
    forever), and (b) cc_compact's same-epoch `v_<n>_compact` name must
    parse through atomic.list_versions/drop_superseded (int('5_compact')
    used to raise) with the stale plain v_<n> deterministically GC'd."""
    from investcloud_data_pipeline_spark.operators.graph_incremental import (
        cc_compact,
    )
    from investcloud_data_pipeline_spark.streaming.atomic import (
        list_versions,
        read_committed,
    )

    members, remap = str(tmp_path / "m"), str(tmp_path / "r")
    batches = [
        [(1, 2), (10, 11)],
        [(2, 10)],
        [(20, 21)],
        [(21, 1)],
        [(30, 31)],
    ]
    seen = []
    for edges in batches:
        seen.extend(edges)
        cc_update_batch(spark, _edges_df(spark, edges), members, remap)
    vdirs = [n for n in os.listdir(remap) if n.startswith("v_")]
    # retain=2: committed + one predecessor, never one-per-batch
    assert len(vdirs) <= 2, vdirs

    cc_compact(spark, members, remap)
    committed, vdir = read_committed(remap)
    assert os.path.basename(vdir) == f"v_{committed}_compact"
    # parses without ValueError and the stale plain v_<n> is gone
    assert list_versions(remap) == [committed]
    assert _labels(cc_read(spark, members, remap)) == _scratch(
        spark, seen
    )

    # post-compact updates still GC correctly and labels stay right
    more = [(31, 20)]
    seen.extend(more)
    cc_update_batch(spark, _edges_df(spark, more), members, remap)
    vdirs = [n for n in os.listdir(remap) if n.startswith("v_")]
    assert len(vdirs) <= 2, vdirs
    assert _labels(cc_read(spark, members, remap)) == _scratch(
        spark, seen
    )


def test_repeated_compaction_never_overwrites_committed_dir(spark, tmp_path):
    """Two cc_compact calls with NO intervening batch must not rewrite
    the committed version dir in place (readers could see a partial
    remap): each re-commit lands under a fresh suffixed name and labels
    are preserved throughout."""
    from investcloud_data_pipeline_spark.operators.graph_incremental import (
        cc_compact,
    )
    from investcloud_data_pipeline_spark.streaming.atomic import (
        read_committed,
    )

    members, remap = str(tmp_path / "m"), str(tmp_path / "r")
    edges = [(1, 2), (2, 3), (10, 11)]
    cc_update_batch(spark, _edges_df(spark, edges), members, remap)
    cc_update_batch(spark, _edges_df(spark, [(3, 10)]), members, remap)
    want = _scratch(spark, edges + [(3, 10)])

    cc_compact(spark, members, remap)
    _, v1 = read_committed(remap)
    cc_compact(spark, members, remap)  # no intervening batch
    _, v2 = read_committed(remap)
    assert v1 != v2, "second compact re-committed the same dir"
    assert _labels(cc_read(spark, members, remap)) == want
    # and a third: must differ from the dir committed just before it
    # (a name GC'd by the second compact MAY be reused — the dir was
    # deleted, so no reader can hold it — but never the live one)
    cc_compact(spark, members, remap)
    _, v3 = read_committed(remap)
    assert v3 != v2
    assert _labels(cc_read(spark, members, remap)) == want


def test_gc_suffix_tiebreak_is_numeric(tmp_path):
    """Round-12 ADVICE: after ten-plus same-epoch re-commits the
    compact suffix reaches double digits, and a LEXICAL tie-break
    ('v_5_compact10' < 'v_5_compact9') would retain stale dirs forever
    and leave list_versions reporting duplicate epochs. The tie-break
    must order by the NUMERIC suffix index."""
    import json

    from investcloud_data_pipeline_spark.streaming.atomic import (
        drop_superseded,
        list_versions,
    )

    root = str(tmp_path / "r")
    os.makedirs(root)
    names = ["v_5", "v_5_compact"] + [
        f"v_5_compact{i}" for i in range(1, 12)
    ]
    for n in names:
        os.makedirs(os.path.join(root, n))
    keep = os.path.join(root, "v_5_compact11")
    with open(os.path.join(root, "_COMMITTED"), "w") as fh:
        json.dump({"epoch_id": 5, "version_dir": "v_5_compact11"}, fh)

    drop_superseded(root, keep, retain=1)
    left = sorted(n for n in os.listdir(root) if n.startswith("v_"))
    assert left == ["v_5_compact11"], left
    assert list_versions(root) == [5]


def test_batch_plans_import_without_streaming_stack():
    """Round-12 ADVICE: enumerating the batch-plans registry must not
    import the streaming modules (they pull pandas/numpy and
    pyspark.sql.streaming.state at import time). TOPK_K now lives in
    the lightweight constants module; verify in a clean interpreter
    that importing the plans package leaves streaming.stateful
    unloaded."""
    import subprocess
    import sys

    code = (
        "import sys, investcloud_data_pipeline_spark.plans.analytics_ext8, "
        "investcloud_data_pipeline_spark.plans as p; "
        "bad=[m for m in sys.modules if m.startswith("
        "'investcloud_data_pipeline_spark.streaming')]; "
        "assert not bad, bad; "
        "from investcloud_data_pipeline_spark.constants import TOPK_K; "
        "from investcloud_data_pipeline_spark.streaming.stateful import "
        "TOPK_K as K2; assert TOPK_K == K2"
    )
    subprocess.run(
        [sys.executable, "-c", code], check=True, cwd="/root/repo"
    )
