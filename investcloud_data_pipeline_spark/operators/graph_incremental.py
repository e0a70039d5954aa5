"""Incremental connected-components maintenance for the streaming
dedup graph.

``start_neardup_pair_ingest`` keeps PAIR discovery flat per batch
(delta×base band probes, never base×base), but cluster ids were still
a from-scratch ``connected_components_star`` over the full accumulated
pair set — at 100 TB the re-cluster becomes the new bottleneck once
pair ingest is flat. This module maintains the component labelling
incrementally: per batch of new edges, only the components those edges
TOUCH are recontracted; everything else is untouched on disk.

Design (two stores, both plain parquet):

- **member store** (``members_dir``): append-only ``(node, comp0)``
  rows, partitioned by ``shard = pmod(xxhash64(node), CC_SHARDS)``.
  ``comp0`` is the node's component id AT INSERT TIME and is never
  rewritten. Partitioning by node hash makes the per-batch probe
  ("which stored components do the delta's old endpoints belong to?")
  a directory-pruned scan of only the delta's shards — the same
  files-touched-∝-work discipline as the streaming IVF index.
- **remap store** (``remap_dir``): the compacted merge history
  ``(comp_old, comp_new)``, atomically versioned per epoch via
  ``streaming/atomic.py``. Invariant: single-hop — no ``comp_old``
  ever appears as a ``comp_new``, so the read path is ONE broadcast
  left join. The remap is bounded by the number of components ever
  merged, orders of magnitude below the node count.

Per-batch update = (1) map delta endpoints to their current
components (shard-pruned probe + broadcast remap), (2) CONTRACT the
delta edges to component level and drop self-loops, (3) run
``connected_components_star`` on the contracted graph — its size is
O(|delta edges|), independent of the accumulated graph, and its
driver/distributed two-path guard carries over, (4) append the new nodes'
rows and compose the merge map into the remap (a broadcast join
against the small remap — stored members are NOT rewritten).

Labels match the batch operator exactly: component id = min member id
(inductively, contracted node ids are min-member ids, so the min over
contracted nodes is the global min).

Reference lineage: extends `02_silver_layer_processing.py`'s
dedup stage the way the band-index stream does — the reference
recomputes from storage per run; this keeps the incremental state the
run would rebuild.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.atomic import (
    commit_version,
    drop_superseded,
    read_committed,
    version_path,
)
from ..streaming.bronze import mark_sink_epoch, sink_epoch_committed

CC_SHARDS = 64
_MEMBERS_SCHEMA = "node long, comp0 long"
_REMAP_SCHEMA = "comp_old long, comp_new long"


def _shard(col):
    return F.pmod(F.xxhash64(col), F.lit(CC_SHARDS)).cast("int")


def _read_members(spark: SparkSession, members_dir: str) -> DataFrame:
    if os.path.isdir(members_dir) and any(
        e.startswith("shard=") for e in os.listdir(members_dir)
    ):
        return spark.read.schema(_MEMBERS_SCHEMA + ", shard int").parquet(
            members_dir
        )
    return spark.createDataFrame([], _MEMBERS_SCHEMA + ", shard int")


def _read_remap(spark: SparkSession, remap_dir: str) -> DataFrame:
    _, vdir = read_committed(remap_dir)
    if vdir is None:
        return spark.createDataFrame([], _REMAP_SCHEMA)
    return spark.read.schema(_REMAP_SCHEMA).parquet(vdir)


def cc_read(
    spark: SparkSession, members_dir: str, remap_dir: str
) -> DataFrame:
    """Current labelling ``(node, component)``: insert-time components
    composed with the compacted remap — one broadcast left join, no
    shuffle of the member store."""
    members = _read_members(spark, members_dir)
    remap = _read_remap(spark, remap_dir)
    return (
        members.join(
            F.broadcast(remap),
            members.comp0 == remap.comp_old,
            "left",
        )
        .select(
            "node",
            F.coalesce("comp_new", "comp0").alias("component"),
        )
    )


def cc_update_batch(
    spark: SparkSession,
    edges: DataFrame,
    members_dir: str,
    remap_dir: str,
    epoch_id: int | None = None,
    src: str = "id1",
    dst: str = "id2",
) -> None:
    """Fold one batch of new edges into the incremental labelling.

    Exactly-once: ``epoch_id`` (from foreachBatch) versions the remap
    commit; a replayed epoch ≤ the committed one is skipped whole.
    The member append is guarded by the same epoch via the remap
    marker ordering: members append FIRST, remap commit is the single
    commit point, and a replay after a crash between the two re-runs
    the batch against the pre-batch remap — the member append is
    made idempotent by anti-joining already-stored nodes.
    """
    committed, _ = read_committed(remap_dir)
    if epoch_id is not None and epoch_id <= committed:
        return
    if epoch_id is None:
        epoch_id = committed + 1

    e = (
        edges.select(
            F.col(src).cast("long").alias("a"),
            F.col(dst).cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    caches = [e]
    try:
        delta_nodes = (
            e.select(F.col("a").alias("node"))
            .union(e.select(F.col("b").alias("node")))
            .distinct()
            .persist()
        )
        caches.append(delta_nodes)
        # probe: which delta nodes are already stored, and under which
        # insert-time component? Directory-pruned to the delta's shards.
        shards = [
            r.s
            for r in delta_nodes.select(
                _shard(F.col("node")).alias("s")
            )
            .distinct()
            .collect()
        ]
        members = _read_members(spark, members_dir).filter(
            F.col("shard").isin(shards)
        )
        remap = _read_remap(spark, remap_dir)
        known = (
            members.join(F.broadcast(delta_nodes), "node")
            .join(
                F.broadcast(remap),
                F.col("comp0") == F.col("comp_old"),
                "left",
            )
            .select(
                "node",
                F.coalesce("comp_new", "comp0").alias("comp_cur"),
            )
            .persist()
        )
        caches.append(known)
        # current component of every delta endpoint (unknown ⇒ itself)
        cur = (
            delta_nodes.join(known, "node", "left")
            .select(
                "node",
                F.coalesce("comp_cur", "node").alias("comp_cur"),
            )
            .persist()
        )
        caches.append(cur)
        # contract to component level; self-loops vanish
        contracted = (
            e.join(cur.withColumnRenamed("node", "a"), "a")
            .withColumnRenamed("comp_cur", "ca")
            .join(
                cur.withColumnRenamed("node", "b").withColumnRenamed(
                    "comp_cur", "cb"
                ),
                "b",
            )
            .select("ca", "cb")
            .filter(F.col("ca") != F.col("cb"))
        )
        from .graph import connected_components_star

        cc = connected_components_star(contracted, src="ca", dst="cb")
        # merge map over AFFECTED components only (bounded by 2·|delta|)
        m = cc.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("m_old"),
            F.col("component").alias("m_new"),
        )

        # new nodes enter with their FINAL post-merge component, so they
        # never need a remap row. Pinned (persisted) BEFORE the member
        # append: stale_keys below must see the pre-append node set.
        new_nodes = delta_nodes.join(
            known.select("node"), "node", "left_anti"
        ).persist()
        caches.append(new_nodes)
        inserts = (
            new_nodes.join(
                F.broadcast(m),
                F.col("node") == F.col("m_old"),
                "left",
            )
            .select(
                "node",
                F.coalesce("m_new", "node").alias("comp0"),
                _shard(F.col("node")).alias("shard"),
            )
        )
        # compose the remap: old targets chase the merge map; merge-map
        # rows for previously-existing components are appended (keys of
        # m that are delta-new nodes are already final via comp0).
        # MATERIALIZED (eager localCheckpoint) BEFORE the member append:
        # writing to members_dir fires Spark's recacheByPath over every
        # plan that scans it — a lazily-cached new_nodes would silently
        # re-resolve against the post-append listing and come back
        # empty, flooding the remap with rows for every new node (the
        # bug the first r10 bench run surfaced as a 220k-row remap).
        stale_keys = m.join(
            new_nodes.select(F.col("node").alias("m_old")),
            "m_old",
            "left_anti",
        ).selectExpr("m_old AS comp_old", "m_new AS comp_new")
        new_remap = (
            remap.join(
                F.broadcast(m),
                F.col("comp_new") == F.col("m_old"),
                "left",
            )
            .select(
                "comp_old",
                F.coalesce("m_new", "comp_new").alias("comp_new"),
            )
            .unionByName(stale_keys)
            .localCheckpoint(eager=True)
        )

        # crash-replay idempotence via the epoch-marker protocol (the
        # pair stage's discipline): marker-present == data-present, so
        # a replayed epoch skips the append in O(1) instead of
        # anti-joining against a full member-store scan per batch.
        if not sink_epoch_committed(members_dir, epoch_id):
            # one file per shard per batch: without the repartition
            # every write task fans into all 64 shard directories
            # (32 tasks × 64 dirs of KB-files per batch), and the
            # probe scans pay for the file count forever after
            (
                inserts.repartition(CC_SHARDS, "shard")
                .write.mode("append")
                .partitionBy("shard")
                .parquet(members_dir)
            )
            mark_sink_epoch(members_dir, epoch_id)

        vdir = version_path(remap_dir, epoch_id)
        new_remap.coalesce(1).write.mode("overwrite").parquet(vdir)
        commit_version(remap_dir, epoch_id, vdir)
        # GC superseded remap versions: without this every micro-batch
        # left one full remap copy on disk forever (round-11 ADVICE).
        # retain=2 keeps the previous version readable for incident
        # debugging, same dial as the other versioned sinks.
        drop_superseded(remap_dir, vdir, retain=2)
    finally:
        for df in caches:
            df.unpersist()


def start_cluster_ingest(
    spark: SparkSession,
    pairs_src_dir: str,
    members_dir: str,
    remap_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int = 1,
):
    """Streaming stage: consume the pair stream's append directory as a
    file stream and fold each micro-batch of edges into the incremental
    component labelling. Chain it behind ``start_neardup_pair_ingest``
    (its ``pairs_dir`` is this stage's source)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id1", T.LongType()),
            T.StructField("id2", T.LongType()),
        ]
    )

    def process_batch(batch_df, epoch_id: int) -> None:
        cc_update_batch(
            batch_df.sparkSession,
            batch_df,
            members_dir,
            remap_dir,
            epoch_id=epoch_id,
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pairs_src_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("cc_cluster_ingest")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def cc_compact(
    spark: SparkSession, members_dir: str, remap_dir: str
) -> dict:
    """Fold the remap into the member store and reset it — the
    long-run maintenance op that keeps the remap broadcastable: the
    remap grows with the number of components ever merged, and at
    fleet scale months of ingest would eventually push it past
    broadcast size. Compaction rewrites every member row with its
    CURRENT component (one broadcast join, shard partitioning
    preserved) and commits an empty remap, restoring the steady state
    where reads are a scan plus a tiny broadcast.

    OFFLINE op (the `compact_parquet_dir` contract): stop
    ``start_cluster_ingest`` before calling. Crash discipline:
    - the rewrite lands in a temp sibling and swaps in by rename
      (readers never see a partial store; the store is briefly absent
      mid-swap, as with `operators/maintenance.py`);
    - the remap reset commits under the SAME epoch id as the current
      marker (a `v_<epoch>_compact` version dir), so the stream's
      replay guard (`epoch_id <= committed`) is untouched and the next
      micro-batch is not mis-skipped;
    - a crash after the swap but before the remap reset leaves
      remap rows whose keys no longer appear as any comp0 — harmless
      no-op rows, removed by re-running compaction.
    """
    import shutil

    remap = _read_remap(spark, remap_dir)
    n_remap = remap.count()
    members = _read_members(spark, members_dir)
    compacted = (
        members.join(
            F.broadcast(remap),
            members.comp0 == remap.comp_old,
            "left",
        )
        .select(
            "node",
            F.coalesce("comp_new", "comp0").alias("comp0"),
            "shard",
        )
    )
    tmp = members_dir.rstrip("/") + "__compacting"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        compacted.repartition(CC_SHARDS, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(tmp)
    )
    # preserve the epoch markers: replay idempotence must survive
    markers = os.path.join(members_dir, "_epochs")
    if os.path.isdir(markers):
        shutil.copytree(markers, os.path.join(tmp, "_epochs"))
    old = members_dir.rstrip("/") + "__old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(members_dir, old)
    os.rename(tmp, members_dir)
    shutil.rmtree(old, ignore_errors=True)

    committed, cur_vdir = read_committed(remap_dir)
    # Same-epoch re-commit under a suffixed dir: the replay guard
    # (epoch_id <= committed) must not move, and overwriting v_<epoch>
    # in place would expose a partial read window. atomic._epoch_of
    # parses the suffix, so GC/list still work (round-11 ADVICE). The
    # name must also differ from the CURRENTLY-committed dir — a
    # repeated compaction with no intervening batch would otherwise
    # overwrite the committed dir in place, the exact corruption
    # window the suffix exists to avoid — so pick the first free
    # suffix index.
    n = 0
    while True:
        suffix = "_compact" if n == 0 else f"_compact{n}"
        vdir = os.path.join(remap_dir, f"v_{committed}{suffix}")
        if vdir != cur_vdir and not os.path.exists(vdir):
            break
        n += 1
    spark.createDataFrame([], _REMAP_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(vdir)
    commit_version(remap_dir, committed, vdir)
    drop_superseded(remap_dir, vdir, retain=1)
    return {
        "remap_rows_folded": int(n_remap),
        "nodes": int(
            spark.read.schema(_MEMBERS_SCHEMA + ", shard int")
            .parquet(members_dir)
            .count()
        ),
    }
