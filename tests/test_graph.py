"""Connected components / dedup clustering (operators/graph.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jibaro_spark.operators import graph
from jibaro_spark.operators.graph import connected_components, dedup_clusters


@pytest.fixture(params=["driver", "distributed"])
def bfs_route(request, monkeypatch):
    """Run a BFS test on both routes: the driver queue BFS the small
    test graphs take by default, and the distributed level loop,
    forced by dropping the shared routing bound below every count."""
    if request.param == "distributed":
        monkeypatch.setattr(graph, "_DRIVER_EDGE_MAX", -1)
    return request.param


def _labels(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = connected_components(df, **kw).collect()
    return {r.node: r.component for r in rows}


def test_cc_two_components(spark):
    got = _labels(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cc_long_chain_converges_in_log_rounds(spark):
    # a 64-node path has diameter 63: min-label propagation would need
    # ~63 rounds, alternating-star must finish well inside max_iter=10
    chain = [(i, i + 1) for i in range(63)]
    got = _labels(spark, chain, max_iter=10)
    assert got == {i: 0 for i in range(64)}


def test_cc_dense_clique_and_reversed_edges(spark):
    clique = [(a, b) for a in range(5, 10) for b in range(5, 10) if a != b]
    got = _labels(spark, clique + [(3, 2)])
    assert got == {**{i: 5 for i in range(5, 10)}, 2: 2, 3: 2}


def test_cc_self_loops_ignored(spark):
    got = _labels(spark, [(7, 7), (7, 8)])
    assert got == {7: 7, 8: 7}


def test_cc_self_loop_only_node_still_emitted(spark):
    # ADVICE r2: a node appearing ONLY as a self-pair must still get an
    # output row (its own singleton component) — nodes derive from the
    # unfiltered pair list, not the self-loop-filtered edge list.
    got = _labels(spark, [(7, 7), (1, 2)])
    assert got == {7: 7, 1: 1, 2: 1}


def test_cc_non_convergence_raises(spark, monkeypatch):
    # a negative routing bound forces the distributed loop (the r12
    # driver union-find path has no rounds to bound)
    monkeypatch.setattr(graph, "_DRIVER_EDGE_MAX", -1)
    df = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(df, max_iter=0)


def test_dedup_clusters_singletons_and_canonical(spark):
    df = spark.createDataFrame([(i, f"d{i}") for i in range(6)], ["id", "text"])
    pairs = spark.createDataFrame([(1, 4), (4, 5)], ["id_a", "id_b"])
    out = dedup_clusters(df, pairs, "id")
    got = {r.id: r.cluster_id for r in out.collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 1, 5: 1}
    # canonical selection: one row per cluster survives
    kept = out.filter(F.col("id") == F.col("cluster_id"))
    assert sorted(r.id for r in kept.collect()) == [0, 1, 2, 3]


def test_triangle_count_k4_plus_pendant(spark):
    from jibaro_spark.operators.graph import triangle_count

    # K4 on {0,1,2,3}: C(4,3)=4 triangles, every node in 3 of them;
    # pendant node 9 attached to 0 is in none; self-loop ignored.
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(0, 9), (9, 9), (1, 0)]  # dup reversed edge too
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.n_triangles for r in triangle_count(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 9: 0}


def test_triangle_count_matches_numpy_enumeration(spark):
    import itertools
    import random

    from jibaro_spark.operators.graph import triangle_count

    rng = random.Random(7)
    nodes = list(range(24))
    edges = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.choice(nodes), rng.choice(nodes)) for _ in range(140)
            )
            if a != b
        }
    )
    es = set(edges)
    expected = {n: 0 for n in {v for e in edges for v in e}}
    for a, b, c in itertools.combinations(sorted(expected), 3):
        if (a, b) in es and (b, c) in es and (a, c) in es:
            expected[a] += 1
            expected[b] += 1
            expected[c] += 1
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.n_triangles for r in triangle_count(df).collect()}
    assert got == expected


def test_bfs_distances_chain_and_branch(spark, bfs_route):
    """Min-hop distances on a chain with a shortcut: BFS must take the
    shorter route; unreachable nodes are absent; max_hops truncates."""
    from jibaro_spark.operators.graph import bfs_distances

    # 0-1-2-3-4 chain, plus shortcut 0-3, plus isolated pair 8-9
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3), (8, 9)], ["src", "dst"]
    )
    src = spark.createDataFrame([(0,)], ["node"])
    got = {r.node: r.dist for r in bfs_distances(edges, src, max_hops=10).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 2}

    # truncation: with max_hops=1 only the direct neighbors appear
    got1 = {r.node: r.dist for r in bfs_distances(edges, src, max_hops=1).collect()}
    assert got1 == {0: 0, 1: 1, 3: 1}


def test_bfs_distances_directed_and_multi_source(spark, bfs_route):
    from jibaro_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (3, 2)], ["src", "dst"])
    src = spark.createDataFrame([(0,)], ["node"])
    directed = {
        r.node: r.dist
        for r in bfs_distances(edges, src, max_hops=5, directed=True).collect()
    }
    # edge 3→2 is not traversable FROM 0 in the directed graph
    assert directed == {0: 0, 1: 1, 2: 2}
    multi = {
        r.node: r.dist
        for r in bfs_distances(
            edges, spark.createDataFrame([(0,), (3,)], ["node"]), max_hops=5
        ).collect()
    }
    # undirected, two sources: every node within 1 hop of {0, 3}
    assert multi == {0: 0, 3: 0, 1: 1, 2: 1}


def test_bfs_distances_matches_python_bfs_on_random_graph(spark, bfs_route):
    """Cross-check against a textbook queue BFS on a seeded random
    graph (the triangle-count test's pattern)."""
    import random
    from collections import deque

    from jibaro_spark.operators.graph import bfs_distances

    rng = random.Random(13)
    nodes = list(range(60))
    edges = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in ((rng.choice(nodes), rng.choice(nodes)) for _ in range(90))
            if a != b
        }
    )
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    expected = {0: 0}
    dq = deque([0])
    while dq:
        u = dq.popleft()
        for v in adj.get(u, []):
            if v not in expected:
                expected[v] = expected[u] + 1
                dq.append(v)
    expected = {n: d for n, d in expected.items() if d <= 8}
    df = spark.createDataFrame(edges, ["src", "dst"])
    src = spark.createDataFrame([(0,)], ["node"])
    got = {r.node: r.dist for r in bfs_distances(df, src, max_hops=8).collect()}
    assert got == expected
