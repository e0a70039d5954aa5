"""Iterative graph operators: connected components (min-label
propagation and star contraction), PageRank, label propagation, k-core
and bounded BFS.

They close the LLM-data pipelines' graph steps: near-dup and entity-
resolution pair graphs become clusters through connected components;
the co-purchase graph is ranked, segmented, peeled and walked.

Two paths, chosen by edge count. Every operator first builds its edge
list with :func:`_edge_list`, persists it and counts it.

- A graph of at most ``DRIVER_EDGE_LIMIT`` edges (2M ≈ tens of MB of
  Arrow columns) is collected once to the driver, its fixpoint runs in
  numpy, and the result returns through ``createDataFrame``. At that
  size a DataFrame loop is all scheduling: one job per round, each a
  few milliseconds of work.
- A larger graph runs one distributed loop in the caller's session.
  Every round's frame is cut with ``localCheckpoint``, so the logical
  plan, and with it planning time, stays flat however many rounds run
  (a frame read twice per round would otherwise double its plan every
  round).

Both paths return the same rows; PageRank floats agree up to summation
order. Only the distributed loops can fail to converge: the driver
kernels always run to their fixpoint, so ``max_iter`` bounds the loop
path only.

Edge-list rules, the same on both paths:

- an edge with a null endpoint is dropped, so no operator emits a null
  node (``bounded_bfs`` drops null seeds too);
- only nodes on at least one edge are labelled (``bounded_bfs`` also
  returns its seeds, at hop 0, even off the graph);
- self-loops: ``connected_components`` keeps them, so a node whose only
  edge is a self-loop is its own component; ``connected_components_star``
  drops them first, so such a node is absent from its result; PageRank,
  label propagation, k-core and BFS treat a self-loop as an ordinary
  edge (it counts once towards a node's degree).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

DRIVER_EDGE_LIMIT = 2_000_000


def _edge_list(
    edges: DataFrame, src: str, dst: str, symmetric: bool = True
) -> DataFrame:
    """Distinct ``(a, b)`` edges without null endpoints; with
    ``symmetric`` every edge appears in both directions."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).dropna()
    if symmetric:
        e = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    return e.distinct()


def _fixpoint(
    e: DataFrame, kernel, loop, name: str, value_type=None
) -> DataFrame:
    """``(node, name)`` from ``kernel(pandas edges) -> (nodes, values)``
    on the driver when the edge list ``e`` is small enough, else from
    ``loop(e)``. The loop's result must not need ``e`` cached."""
    e = e.persist()
    if e.count() > DRIVER_EDGE_LIMIT:
        out = loop(e)
        e.unpersist()
        return out
    # Arrow collect: 2M (long, long) edges are ~32MB of pandas columns
    pdf = e.toPandas()
    e.unpersist()
    node, value = kernel(pdf)
    node_type = e.schema["a"].dataType
    schema = StructType(
        [
            StructField("node", node_type, False),
            StructField(name, value_type or node_type, False),
        ]
    )
    return e.sparkSession.createDataFrame(
        pd.DataFrame({"node": node, name: value}), schema
    )


def _index(pdf: pd.DataFrame):
    """Sorted distinct node values and the edges' ``a``/``b`` endpoints
    as positions in them — so position order is node-value order and a
    min over positions is a min over node ids."""
    nodes, pos = np.unique(
        np.concatenate([pdf["a"].to_numpy(), pdf["b"].to_numpy()]),
        return_inverse=True,
    )
    return nodes, pos[: len(pdf)], pos[len(pdf):]


def _min_labels(pdf: pd.DataFrame):
    """Component = min reachable node id: min-label hooking plus pointer
    jumping (``lab[lab]``), O(log n) sweeps even on a long chain."""
    nodes, a, b = _index(pdf)
    lab = np.arange(len(nodes))
    while True:
        new = lab.copy()
        np.minimum.at(new, a, lab[b])
        np.minimum.at(new, b, lab[a])
        new = new[new]
        if np.array_equal(new, lab):
            return nodes, nodes[lab]
        lab = new


def _fingerprint(df: DataFrame, x: str, y: str) -> tuple:
    # Order-insensitive, type-agnostic change test, one scalar aggregate:
    # row count plus bit_xor (not sum: the hashes span the int64 range
    # and a sum overflows under ANSI) of per-row hashes.
    row = df.agg(
        F.count("*").alias("n"), F.bit_xor(F.xxhash64(x, y)).alias("h")
    ).collect()[0]
    return row.n, row.h


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node of the undirected ``edges`` graph with the
    minimum node id reachable from it (= its component id). Returns
    (node, component).

    Distributed path: min-label propagation, one join plus one grouped
    min per round, until the labels stop changing. Rounds = diameter,
    which for near-dup clusters is 1-3; past ``max_iter`` rounds it
    raises rather than return split components.
    """

    def loop(sym: DataFrame) -> DataFrame:
        labels = (
            sym.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
            .localCheckpoint(eager=False)
        )
        prev = _fingerprint(labels, "node", "label")
        for _ in range(max_iter):
            msgs = sym.join(labels, sym.b == labels.node).select(
                F.col("a").alias("node"), "label"
            )
            labels = (
                labels.union(msgs)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
                .localCheckpoint(eager=False)
            )
            fp = _fingerprint(labels, "node", "label")
            if fp == prev:
                return labels.select("node", F.col("label").alias("component"))
            prev = fp
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "the graph has a component with diameter > max_iter — raise "
            "max_iter or use connected_components_star"
        )

    return _fixpoint(_edge_list(edges, src, dst), _min_labels, loop, "component")


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components, same (node, component) labels as
    :func:`connected_components` except that self-loops are dropped
    first. Collecting small graphs makes this the operator for any
    graph shape, small or large, chained or clustered.

    Distributed path: the alternating large-star / small-star algorithm
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SOCC'14), O(log² n) rounds regardless of diameter, where min-label
    propagation needs one round per hop:

      large-star(u): for every neighbor v > u, re-edge (v, m) where
                     m = min(N(u) ∪ {u})
      small-star(u): orient edges toward the larger endpoint, then for
                     every neighbor v (all ≤ u) and u itself, re-edge
                     (v, m) where m = min(N(u) ∪ {u})

    At the fixpoint (an unchanged edge-set fingerprint) the edges form a
    star forest: every node points at its component's minimum id.
    """

    def large_star(df: DataFrame) -> DataFrame:
        # No dedup here: duplicates are harmless (min is idempotent) and
        # the round's single distinct closes small-star.
        sym = df.union(df.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
        return (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )

    def small_star(df: DataFrame) -> DataFrame:
        # The self-hook rows (u, m) are exactly `mins` with u ≠ m.
        oriented = df.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        mins = oriented.groupBy("a").agg(F.min("b").alias("m"))
        hooked = (
            oriented.join(mins, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        self_hooked = mins.filter(F.col("a") != F.col("m")).select(
            "a", F.col("m").alias("b")
        )
        return hooked.union(self_hooked).distinct()

    def loop(e: DataFrame) -> DataFrame:
        prev = None
        for _ in range(max_iter):
            e = small_star(large_star(e)).localCheckpoint(eager=False)
            fp = _fingerprint(e, "a", "b")
            if fp == prev:
                # star forest: (member > root) → root, plus every root
                members = e.select(
                    F.col("a").alias("node"), F.col("b").alias("component")
                )
                roots = e.select(F.col("b").alias("node")).distinct()
                return members.union(roots.withColumn("component", F.col("node")))
            prev = fp
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds — pathological input (the alternating algorithm is "
            "O(log^2 n) rounds; raise max_iter)"
        )

    e = _edge_list(edges, src, dst, symmetric=False).filter(F.col("a") != F.col("b"))
    return _fixpoint(e, _min_labels, loop, "component")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
    damping: float = 0.85,
    undirected: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank by power iteration. A FIXED iteration
    count (not an epsilon test) keeps the operator deterministic and
    oracle-expressible (the DuckDB mirror is a recursive CTE with an
    iteration counter).

    Dangling nodes (out-degree 0 — only possible with a directed input;
    ``undirected`` gives every node out-degree ≥ 1) get the standard
    stochastic-matrix treatment: their rank mass is summed each round
    and redistributed uniformly (``damping * dangling_mass / n`` added
    to every node), so ranks sum to 1 to float precision instead of
    leaking. Returns (node, rank).

    Distributed path, per round: one join of ranks onto the out-edge
    list and one grouped sum of contributions, both keyed on node id;
    with dangling nodes, a broadcast 1-row mass aggregate.
    """

    def kernel(pdf: pd.DataFrame):
        nodes, a, b = _index(pdf)
        n = max(len(nodes), 1)
        deg = np.bincount(a, minlength=len(nodes))
        dangling = deg == 0
        rank = np.full(len(nodes), 1.0 / n)
        for _ in range(n_iter):
            in_sum = np.bincount(b, weights=rank[a] / deg[a], minlength=len(nodes))
            rank = (1.0 - damping) / n + damping * (in_sum + rank[dangling].sum() / n)
        return nodes, rank

    def loop(e: DataFrame) -> DataFrame:
        nodes = (
            e.select(F.col("a").alias("node"))
            .union(e.select(F.col("b").alias("node")))
            .distinct()
            .localCheckpoint()
        )
        n = max(nodes.count(), 1)
        deg = e.groupBy("a").agg(F.count("*").alias("deg"))
        out = e.join(deg, "a").localCheckpoint()  # (a, b, deg)
        dangling = None
        if not undirected:
            dangling = nodes.join(
                deg.select(F.col("a").alias("node")), "node", "left_anti"
            ).localCheckpoint()
            if dangling.isEmpty():
                dangling = None
        ranks = nodes.withColumn("rank", F.lit(1.0 / n))
        for _ in range(n_iter):
            contribs = (
                out.join(ranks, out.a == ranks.node)
                .select(
                    F.col("b").alias("node"),
                    (F.col("rank") / F.col("deg")).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("in_sum"))
            )
            updated = nodes.join(contribs, "node", "left")
            share = F.lit(0.0)
            if dangling is not None:
                # `ranks` is read twice per round (here and above): the
                # per-round cut below keeps that from doubling the plan
                mass = ranks.join(dangling, "node").agg(
                    (F.coalesce(F.sum("rank"), F.lit(0.0)) / n).alias("share")
                )
                updated = updated.crossJoin(F.broadcast(mass))
                share = F.col("share")
            ranks = updated.select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("in_sum"), F.lit(0.0)) + share)
                ).alias("rank"),
            ).localCheckpoint()
        return ranks

    e = _edge_list(edges, src, dst, symmetric=undirected)
    return _fixpoint(e, kernel, loop, "rank", DoubleType())


def canonical_per_component(
    labeled: DataFrame,
    node_col: str = "node",
    component_col: str = "component",
) -> DataFrame:
    """One canonical representative per cluster: the min node id (same
    rule as the label itself, so it is free — exposed for readability)."""
    return labeled.groupBy(component_col).agg(
        F.min(node_col).alias("canonical"),
        F.count("*").alias("cluster_size"),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007), determinized: labels start as node ids; each round every
    node adopts the label most frequent among its neighbors, ties
    broken by the SMALLEST label, all nodes updating simultaneously
    from the previous round's labels. A FIXED iteration count (not a
    convergence test) keeps the operator deterministic and
    oracle-expressible — the DuckDB mirror unrolls the same K rounds.
    Returns (node, label).

    Distributed path, per round: one join of labels onto the symmetric
    edge list, one (node, label) grouped count, one per-node argmax via
    min(struct(-cnt, label)) — a map-side-combinable aggregate, no
    window sort, and type-agnostic (string node ids work).
    """

    def kernel(pdf: pd.DataFrame):
        nodes, a, b = _index(pdf)
        n = len(nodes)
        lab = np.arange(n)
        for _ in range(n_iter):
            key, cnt = np.unique(b * n + lab[a], return_counts=True)
            node, label = np.divmod(key, n)
            order = np.lexsort((label, -cnt, node))
            node, label = node[order], label[order]
            # every node is some edge's `b` (the list is symmetric), so
            # the first row per node covers all nodes in position order
            first = np.ones(len(node), bool)
            first[1:] = node[1:] != node[:-1]
            lab = label[first]
        return nodes, nodes[lab]

    def loop(e: DataFrame) -> DataFrame:
        labels = e.select(F.col("a").alias("node")).distinct()
        labels = labels.withColumn("label", F.col("node"))
        for _ in range(n_iter):
            votes = (
                e.join(labels, e.a == labels.node)
                .groupBy(F.col("b").alias("node"), "label")
                .agg(F.count("*").alias("cnt"))
            )
            best = F.min(F.struct((-F.col("cnt")).alias("neg_cnt"), F.col("label")))
            labels = (
                votes.groupBy("node")
                .agg(best.alias("best"))
                .select("node", F.col("best.label").alias("label"))
                .localCheckpoint()
            )
        return labels

    return _fixpoint(_edge_list(edges, src, dst), kernel, loop, "label")


def k_core(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    max_rounds: int = 12,
) -> DataFrame:
    """k-core of an undirected graph (Seidman 1983) by synchronous
    peeling: every round, ALL nodes whose current degree is below ``k``
    are deleted simultaneously, until a round deletes nothing or
    ``max_rounds`` rounds have run. The round bound keeps the operator
    oracle-expressible — the DuckDB mirror unrolls the same
    ``max_rounds`` rounds, and because a converged round is a no-op the
    early exit and the full unroll agree whenever the graph converges
    within the bound (asserted by tests at the shipped scale factors).

    Returns ``(node, core_degree)`` for surviving nodes — every
    ``core_degree`` is ≥ k by construction.

    Distributed path, per round: one grouped degree count plus two
    left-semi joins, all keyed on node id, then an edge count that
    detects the fixpoint. The edge set only shrinks, so per-round cost
    falls.
    """

    def kernel(pdf: pd.DataFrame):
        nodes, a, b = _index(pdf)
        for _ in range(max_rounds):
            deg = np.bincount(a, minlength=len(nodes))
            keep = (deg[a] >= k) & (deg[b] >= k)
            if keep.all():
                break
            a, b = a[keep], b[keep]
        deg = np.bincount(a, minlength=len(nodes))
        return nodes[deg > 0], deg[deg > 0]

    def loop(e: DataFrame) -> DataFrame:
        prev = e.count()
        for _ in range(max_rounds):
            keep = (
                e.groupBy("a")
                .agg(F.count("*").alias("deg"))
                .filter(F.col("deg") >= k)
                .select("a")
            )
            e = (
                e.join(keep, "a", "left_semi")
                .join(keep.withColumnRenamed("a", "b"), "b", "left_semi")
                .select("a", "b")
                .localCheckpoint(eager=False)
            )
            cur = e.count()
            if cur == prev or cur == 0:
                break
            prev = cur
        return e.groupBy(F.col("a").alias("node")).agg(
            F.count("*").cast("long").alias("core_degree")
        )

    return _fixpoint(
        _edge_list(edges, src, dst), kernel, loop, "core_degree", LongType()
    )


def bounded_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source bounded BFS: minimum hop distance from ANY seed
    node, truncated at ``max_hops`` — the reachability primitive behind
    "catalog neighborhood" / blast-radius queries. Returns
    ``(node, hops)`` for every node within the bound (seeds at 0).

    Frontier expansion, not walk enumeration: each round joins the
    CURRENT frontier (nodes first reached last round) to the edge
    relation, then anti-joins the visited set, so a node is expanded
    exactly once — on a cyclic graph a walk-based formulation (what a
    naive recursive CTE does) enumerates exponentially many paths. The
    fixed round bound keeps the operator oracle-expressible: the DuckDB
    mirror is a recursive CTE over (node, hops) states with set-dedup
    UNION, whose min-hops aggregate equals BFS under the same bound.
    The distributed path stops early at an empty frontier.
    """
    seeds = seeds.select(F.col(seed_col).alias("node")).dropna().distinct()

    def kernel(pdf: pd.DataFrame):
        nodes, a, b = _index(pdf)
        start = seeds.toPandas()["node"].to_numpy()
        at = pd.Index(nodes).get_indexer(start)
        hops = np.full(len(nodes), -1)
        frontier = at[at >= 0]
        hops[frontier] = 0
        for h in range(1, max_hops + 1):
            reached = np.unique(b[np.isin(a, frontier)])
            frontier = reached[hops[reached] < 0]
            if len(frontier) == 0:
                break
            hops[frontier] = h
        off_graph = start[at < 0]
        return (
            np.concatenate([off_graph, nodes[hops >= 0]]),
            np.concatenate([np.zeros(len(off_graph), np.int64), hops[hops >= 0]]),
        )

    def loop(e: DataFrame) -> DataFrame:
        frontier = seeds.localCheckpoint()
        visited = frontier.select("node", F.lit(0).alias("hops"))
        for h in range(1, max_hops + 1):
            frontier = (
                frontier.join(e, frontier["node"] == e["a"])
                .select(F.col("b").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
                .localCheckpoint(eager=False)
            )
            if frontier.count() == 0:
                break
            visited = visited.union(frontier.select("node", F.lit(h).alias("hops")))
        return visited.select("node", F.col("hops").cast("long").alias("hops"))

    return _fixpoint(_edge_list(edges, src, dst), kernel, loop, "hops", LongType())
