"""Graph operators: known topologies resolve to min-id labels,
convergence is reached within diameter rounds, output is deterministic.

Every operator test runs on both paths: as written (small graphs close
on the driver) and again in the ``*Distributed*`` classes at the end,
whose ``distributed`` fixture sets the driver edge limit to 0 so the
distributed loops run.
"""

from __future__ import annotations

import pytest

from investcloud_data_pipeline_spark.operators import graph
from investcloud_data_pipeline_spark.operators.graph import (
    canonical_per_component,
    connected_components,
    connected_components_star,
)


@pytest.fixture
def distributed(monkeypatch):
    """Every graph is over the driver limit: the distributed loops run."""
    monkeypatch.setattr(graph, "DRIVER_EDGE_LIMIT", 0)


def _cc(spark, edges, fn=connected_components, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = fn(df, **kw)
    return {r.node: r.component for r in out.collect()}


def test_chain_triangle_and_pair(spark):
    # chain 1-2-3-4, triangle 10-11-12 (+ redundant edge), pair 20-21
    got = _cc(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
    )
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_long_chain_needs_propagation_rounds(spark):
    # a 12-node path: min label must travel the full diameter
    got = _cc(spark, [(i, i + 1) for i in range(12)])
    assert set(got.values()) == {0}
    assert len(got) == 13


def test_direction_and_duplicate_edges_are_irrelevant(spark):
    a = _cc(spark, [(5, 9), (9, 5), (5, 9), (7, 9)])
    assert a == {5: 5, 9: 5, 7: 5}


def test_star_matches_propagation_on_mixed_topologies(spark):
    edges = [
        (1, 2), (2, 3), (3, 4),          # chain
        (10, 11), (11, 12), (10, 12),    # triangle
        (20, 21),                        # pair
        (31, 30), (30, 33), (33, 32),    # out-of-order ids
    ]
    assert _cc(spark, edges, fn=connected_components_star) == _cc(spark, edges)


@pytest.mark.slow
def test_star_handles_high_diameter_in_log_rounds(spark, distributed):
    # A 64-hop path: min-label propagation needs 64 rounds (raises at
    # max_iter=25); star contraction closes it in O(log^2 n). Only the
    # distributed loops have a round bound to exceed.
    edges = [(i, i + 1) for i in range(64)]
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc(spark, edges, max_iter=25)
    got = _cc(spark, edges, fn=connected_components_star, max_iter=12)
    assert set(got.values()) == {0}
    assert len(got) == 65


@pytest.mark.slow
def test_star_random_graph_equivalence(spark):
    import random

    rng = random.Random(7)
    edges = [
        (rng.randrange(200), rng.randrange(200)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    assert _cc(spark, edges, fn=connected_components_star) == _cc(
        spark, edges, max_iter=60
    )


def test_canonical_per_component(spark):
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (20, 21)], "src long, dst long"
    )
    labeled = connected_components(df)
    canon = {
        r.component: (r.canonical, r.cluster_size)
        for r in canonical_per_component(labeled).collect()
    }
    assert canon == {1: (1, 3), 20: (20, 2)}


def test_pagerank_star_graph_properties(spark):
    from investcloud_data_pipeline_spark.operators.graph import pagerank

    # star: hub 0 connected to leaves 1..6 — hub must outrank leaves,
    # all leaves equal, total mass ~1
    edges = [(0, i) for i in range(1, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, n_iter=10).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    hub, leaves = got[0], [v for k, v in got.items() if k != 0]
    assert all(hub > l for l in leaves)
    assert max(leaves) - min(leaves) < 1e-12


def test_pagerank_directed_sinks_conserve_mass(spark):
    """Directed chain with a sink: 1→2→3, plus 4→3. Without dangling-mass
    redistribution node 3 leaks its rank every round and the total drifts
    below 1; with it, ranks sum to 1 to float precision."""
    from investcloud_data_pipeline_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 3)], "src long, dst long"
    )
    got = {r.node: r.rank for r in pagerank(df, n_iter=8, undirected=False).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # sink 3 receives from 2 and 4 → highest rank; sources 1,4 get only
    # base + uniform dangling share and tie exactly
    assert got[3] == max(got.values())
    assert abs(got[1] - got[4]) < 1e-12


class TestLoopSessionIsolation:
    """VERDICT r4 #3: the iterative operators run in the caller's
    session and never change its SQLConf."""

    @pytest.mark.slow
    def test_result_is_snapshot_not_lineage(self, spark):
        """Regression: an iterative result must read materialized data,
        not re-analyze (and silently recompute) the per-round lineage —
        a 50-edge star contraction once took 92s to collect that way."""
        from investcloud_data_pipeline_spark.operators.graph import (
            connected_components_star,
        )

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(50)], "src long, dst long"
        )
        out = connected_components_star(edges)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the only scans in the result plan are materialized data (the
        # driver path's local rows or the loop's checkpoint RDD) — no
        # joins (i.e., none of the per-round contraction lineage)
        assert "ExistingRDD" in plan or "LocalTableScan" in plan
        assert "Join" not in plan
        got = {r.node: r.component for r in out.collect()}
        assert set(got.values()) == {0} and len(got) == 51

    def test_end_to_end_loops_leave_parent_session_pristine(self, spark):
        from investcloud_data_pipeline_spark.operators.graph import pagerank

        before = (
            spark.conf.get("spark.sql.adaptive.enabled"),
            spark.conf.get("spark.sql.shuffle.partitions"),
        )
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
        )
        got = _cc(spark, [(1, 2), (2, 3), (5, 6)])
        assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
        ranks = {r.node: r.rank for r in pagerank(edges).collect()}
        assert abs(sum(ranks.values()) - 1.0) < 1e-6
        after = (
            spark.conf.get("spark.sql.adaptive.enabled"),
            spark.conf.get("spark.sql.shuffle.partitions"),
        )
        assert before == after == ("true", before[1])


def test_label_propagation_separates_disconnected_cliques(spark):
    from investcloud_data_pipeline_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)],
        "src long, dst long",
    )
    out = {r.node: r.label for r in label_propagation(edges, n_iter=5).collect()}
    # each triangle converges to its minimum node id; no cross-talk
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_label_propagation_string_node_ids(spark):
    """ADVICE r5 (low): the old tie-break negated the label, so string
    node ids failed analysis. The argmax is now min(struct(-cnt,
    label)) — count negation, type-agnostic — matching the string-id
    support connected_components already has."""
    from investcloud_data_pipeline_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y"), ("y", "z"), ("x", "z")],
        "src string, dst string",
    )
    out = {r.node: r.label for r in label_propagation(edges, n_iter=5).collect()}
    # each triangle converges to its lexicographically-minimum node id
    assert out == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "x"}


def test_label_propagation_fixed_rounds_deterministic(spark):
    """Same graph, two runs, identical labels (synchronous update +
    min-label tie-break leaves no ordering freedom)."""
    from investcloud_data_pipeline_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(i, j) for i in range(1, 8) for j in range(i + 1, 8)
         if (i + j) % 3 != 0],
        "src long, dst long",
    )
    a = sorted(label_propagation(edges, n_iter=4).collect())
    b = sorted(label_propagation(edges.repartition(7), n_iter=4).collect())
    assert a == b


def test_clustering_coeff_known_graph(spark, sf_dir):
    """Local clustering coefficient on the real co-purchase graph obeys
    its definitional bounds and closed-form spot values: coeff in
    [0, 1], zero for deg<2 nodes, and recomputable per node from the
    edge set collected locally."""
    from itertools import combinations

    from investcloud_data_pipeline_spark.plans.mining import (
        copurchase_clustering_coeff,
        copurchase_part_pairs,
    )

    edges = {
        (r.part1, r.part2)
        for r in copurchase_part_pairs(spark, sf_dir).collect()
    }
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    out = {r.part: r for r in copurchase_clustering_coeff(spark, sf_dir).collect()}
    assert set(out) == set(adj)
    for v, nbrs in adj.items():
        r = out[v]
        assert r.deg == len(nbrs)
        tri = sum(
            1 for a, b in combinations(sorted(nbrs), 2)
            if (a, b) in edges or (b, a) in edges
        )
        assert r.n_triangles == tri
        want = round(2 * tri / (r.deg * (r.deg - 1)), 6) if r.deg >= 2 else 0.0
        assert abs(r.clustering_coeff - want) < 1e-9
        assert 0.0 <= r.clustering_coeff <= 1.0


class TestKCore:
    def _core(self, spark, edges, schema="src long, dst long", **kw):
        from investcloud_data_pipeline_spark.operators.graph import k_core

        df = spark.createDataFrame(edges, schema)
        return {r.node: r.core_degree for r in k_core(df, **kw).collect()}

    def test_triangle_with_tail(self, spark):
        # triangle 1-2-3 plus pendant 3-4: the 2-core is exactly the
        # triangle (each member at degree 2); the pendant peels off.
        edges = [(1, 2), (2, 3), (1, 3), (3, 4)]
        assert self._core(spark, edges, k=2) == {1: 2, 2: 2, 3: 2}
        # k=3: the triangle is not a 3-core; everything peels.
        assert self._core(spark, edges, k=3) == {}

    def test_cascading_peel_needs_multiple_rounds(self, spark):
        # path 4-5-6 hanging off a square 0-1-2-3: the path strips one
        # node per synchronous round (6, then 5, then 4) before the
        # square stabilizes — exercises the multi-round cascade.
        edges = [(0, 1), (1, 2), (2, 3), (0, 3), (0, 4), (4, 5), (5, 6)]
        assert self._core(spark, edges, k=2) == {0: 2, 1: 2, 2: 2, 3: 2}

    def test_string_node_ids(self, spark):
        edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
        got = self._core(spark, edges, schema="src string, dst string", k=2)
        assert got == {"a": 2, "b": 2, "c": 2}

    def test_every_survivor_meets_the_degree_floor(self, spark, sf_dir):
        from investcloud_data_pipeline_spark.plans.mining import (
            copurchase_kcore,
        )

        rows = copurchase_kcore(spark, sf_dir).collect()
        assert rows, "2-core should be non-trivial at the shipped sfs"
        assert all(r.core_degree >= 2 for r in rows)

    def test_fixpoint_reached_within_the_registry_bound(self, spark, sf_dir):
        # The registry query runs 8 synchronous rounds; the oracle
        # unrolls the same 8. The "this IS the k-core" reading
        # additionally needs convergence within the bound: one more
        # round must change nothing.
        from investcloud_data_pipeline_spark.operators.graph import k_core
        from investcloud_data_pipeline_spark.plans.mining import (
            copurchase_kcore,
        )
        from investcloud_data_pipeline_spark.sources.batch import load_table
        from pyspark.sql import functions as F

        l = load_table(spark, sf_dir, "lineitem")
        op = l.select("l_orderkey", "l_partkey").distinct()
        a, b = op.alias("a"), op.alias("b")
        pairs = (
            a.join(b, "l_orderkey")
            .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
            .groupBy(
                F.col("a.l_partkey").alias("src"),
                F.col("b.l_partkey").alias("dst"),
            )
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") >= 2)
            .select("src", "dst")
        ).persist()
        at_bound = {
            (r.node, r.core_degree)
            for r in k_core(pairs, k=2, max_rounds=8).collect()
        }
        past_bound = {
            (r.node, r.core_degree)
            for r in k_core(pairs, k=2, max_rounds=9).collect()
        }
        pairs.unpersist()
        assert at_bound == past_bound
        assert at_bound == {
            (r.part, r.core_degree)
            for r in copurchase_kcore(spark, sf_dir).collect()
        }


class TestAutoComponents:
    """``connected_components_star`` on both of its paths: the driver
    kernel below the edge limit, star contraction above it; identical
    min-member labels either way."""

    EDGES = [
        (1, 2), (2, 3), (3, 4),          # chain
        (10, 11), (11, 12), (10, 12),    # triangle
        (20, 21),                        # pair
    ]

    def _run(self, spark, fn, edges, schema="src long, dst long", **kw):
        df = spark.createDataFrame(edges, schema)
        return {r.node: r.component for r in fn(df, **kw).collect()}

    def test_driver_path_matches_min_label(self, spark):
        assert self._run(spark, connected_components_star, self.EDGES) == \
            self._run(spark, connected_components, self.EDGES)

    def test_fallback_path_is_identical(self, spark, monkeypatch):
        small = self._run(spark, connected_components_star, self.EDGES)
        # a limit of 0 edges forces the star-contraction loop
        monkeypatch.setattr(graph, "DRIVER_EDGE_LIMIT", 0)
        big = self._run(spark, connected_components_star, self.EDGES)
        assert small == big == {
            1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20
        }

    def test_string_ids(self, spark):
        got = self._run(
            spark,
            connected_components_star,
            [("b", "a"), ("b", "c"), ("x", "y")],
            schema="src string, dst string",
        )
        assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def _rows(df, value):
    return {r.node: r[value] for r in df.collect()}


def test_null_endpoints_are_dropped(spark):
    """An edge with a null endpoint is dropped before any operator runs:
    no null node, and the null never bridges two components."""
    from investcloud_data_pipeline_spark.operators.graph import (
        bounded_bfs,
        k_core,
        label_propagation,
        pagerank,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (None, 1), (4, 5), (5, 6), (4, 6),
         (6, None), (None, 4), (None, None)],
        "src long, dst long",
    )
    comps = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}
    assert _rows(connected_components(edges), "component") == comps
    assert _rows(connected_components_star(edges), "component") == comps
    for directed in (True, False):
        ranks = _rows(pagerank(edges, undirected=not directed), "rank")
        assert set(ranks) == set(comps)
        assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert _rows(label_propagation(edges), "label") == comps
    # 1 and 4 keep degree 2: their null edges neither count nor survive
    assert _rows(k_core(edges, k=3), "core_degree") == {}
    assert _rows(k_core(edges, k=2), "core_degree") == dict.fromkeys(comps, 2)
    seeds = spark.createDataFrame([(4,), (None,)], "node long")
    assert _rows(bounded_bfs(edges, seeds), "hops") == {4: 0, 5: 1, 6: 1}


def test_self_loop_only_nodes(spark):
    """A node whose only edge is a self-loop: connected_components keeps
    it as its own component, connected_components_star drops it; the
    other operators treat the loop as an ordinary edge."""
    from investcloud_data_pipeline_spark.operators.graph import (
        bounded_bfs,
        k_core,
        label_propagation,
        pagerank,
    )

    edges = spark.createDataFrame([(1, 2), (7, 7)], "src long, dst long")
    assert _rows(connected_components(edges), "component") == {
        1: 1, 2: 1, 7: 7
    }
    assert _rows(connected_components_star(edges), "component") == {
        1: 1, 2: 1
    }
    ranks = _rows(pagerank(edges, n_iter=3), "rank")
    assert set(ranks) == {1, 2, 7} and abs(sum(ranks.values()) - 1) < 1e-9
    assert _rows(label_propagation(edges), "label")[7] == 7
    assert _rows(k_core(edges, k=1), "core_degree") == {1: 1, 2: 1, 7: 1}
    seeds = spark.createDataFrame([(7,)], "node long")
    assert _rows(bounded_bfs(edges, seeds), "hops") == {7: 0}


def _path(spark, n):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )


# operator -> run with `rounds` rounds (or, for the connected-components
# loops, which run to convergence, on a graph needing ~that many)
_ROUNDS = {
    "pagerank": lambda s, r: graph.pagerank(
        _path(s, 12), n_iter=r, undirected=False
    ),
    "label_propagation": lambda s, r: graph.label_propagation(
        _path(s, 12), n_iter=r
    ),
    "k_core": lambda s, r: graph.k_core(_path(s, 40), max_rounds=r),
    "bounded_bfs": lambda s, r: graph.bounded_bfs(
        _path(s, 12), s.createDataFrame([(0,)], "node long"), max_hops=r
    ),
    "connected_components": lambda s, r: graph.connected_components(
        _path(s, r)
    ),
    "connected_components_star": lambda s, r: graph.connected_components_star(
        _path(s, 4 * r)
    ),
}


@pytest.mark.parametrize("op", sorted(_ROUNDS))
def test_distributed_plan_does_not_grow_with_rounds(spark, distributed, op):
    """Each round's frame is cut from its lineage: the result's plan is
    the same size after 4 rounds and after 8. (Persisting without a cut
    grew the directed-PageRank plan about 4x per round.)"""

    def joins(rounds):
        df = _ROUNDS[op](spark, rounds)
        return df._jdf.queryExecution().optimizedPlan().toString().count("Join")

    assert joins(4) == joins(8)


@pytest.mark.usefixtures("distributed")
class TestDistributedPath:
    """The module-level operator tests above, on the distributed loops."""

    test_chain_triangle_and_pair = staticmethod(test_chain_triangle_and_pair)
    test_long_chain_needs_propagation_rounds = staticmethod(
        test_long_chain_needs_propagation_rounds
    )
    test_direction_and_duplicate_edges_are_irrelevant = staticmethod(
        test_direction_and_duplicate_edges_are_irrelevant
    )
    test_star_matches_propagation_on_mixed_topologies = staticmethod(
        test_star_matches_propagation_on_mixed_topologies
    )
    test_star_random_graph_equivalence = staticmethod(
        test_star_random_graph_equivalence
    )
    test_canonical_per_component = staticmethod(test_canonical_per_component)
    test_pagerank_star_graph_properties = staticmethod(
        test_pagerank_star_graph_properties
    )
    test_pagerank_directed_sinks_conserve_mass = staticmethod(
        test_pagerank_directed_sinks_conserve_mass
    )
    test_label_propagation_separates_disconnected_cliques = staticmethod(
        test_label_propagation_separates_disconnected_cliques
    )
    test_label_propagation_string_node_ids = staticmethod(
        test_label_propagation_string_node_ids
    )
    test_label_propagation_fixed_rounds_deterministic = staticmethod(
        test_label_propagation_fixed_rounds_deterministic
    )
    test_null_endpoints_are_dropped = staticmethod(
        test_null_endpoints_are_dropped
    )
    test_self_loop_only_nodes = staticmethod(test_self_loop_only_nodes)


@pytest.mark.usefixtures("distributed")
class TestLoopSessionIsolationDistributed(TestLoopSessionIsolation):
    pass


@pytest.mark.usefixtures("distributed")
class TestKCoreDistributed(TestKCore):
    pass


@pytest.mark.usefixtures("distributed")
class TestAutoComponentsDistributed(TestAutoComponents):
    pass
