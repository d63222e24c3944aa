"""r12 cost-based connected-components routing: the driver union-find
fast path (edge count <= graph._DRIVER_EDGE_MAX) must be bit-identical
to the distributed large-star/small-star loop — rows, labels, AND schema.
The distributed loop is forced by dropping that bound below every count.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from jibaro_spark.operators import graph
from jibaro_spark.operators.graph import connected_components, dedup_clusters


def _cc_bound(monkeypatch, df, bound: int):
    with monkeypatch.context() as m:
        m.setattr(graph, "_DRIVER_EDGE_MAX", bound)
        return connected_components(df)


def _both(spark, monkeypatch, edges, cols=("src", "dst")):
    df = spark.createDataFrame(edges, list(cols))
    fast = connected_components(df)
    slow = _cc_bound(monkeypatch, df, -1)
    return fast, slow


GRAPHS = {
    "two_components": [(1, 2), (2, 3), (10, 11)],
    "chain": [(i, i + 1) for i in range(40)],
    "clique_plus_pendant": [(a, b) for a in range(5, 10) for b in range(5, 10) if a != b]
    + [(3, 2)],
    "self_loops": [(7, 7), (7, 8), (9, 9)],
    "reversed_edges": [(5, 1), (1, 5), (2, 1)],
    "singleton_only_self": [(4, 4)],
}


def test_cc_driver_path_bit_identity_int(spark, monkeypatch):
    for name, edges in GRAPHS.items():
        fast, slow = _both(spark, monkeypatch, edges)
        assert fast.schema == slow.schema, name
        assert sorted(map(tuple, fast.collect())) == sorted(
            map(tuple, slow.collect())
        ), name


def test_cc_driver_path_bit_identity_string_ids(spark, monkeypatch):
    edges = [("doc-b", "doc-a"), ("doc-a", "doc-c"), ("zz", "zz"), ("m1", "m2")]
    fast, slow = _both(spark, monkeypatch, edges)
    assert fast.schema == slow.schema
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))


def test_cc_null_edges_take_distributed_path(spark, monkeypatch):
    # NULL node ids are unorderable in Python; the router must fall
    # through to the distributed loop and reproduce its exact output.
    edges = [(1, 2), (None, 3), (4, None)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    fast = connected_components(df)  # router sees NULLs -> distributed
    slow = _cc_bound(monkeypatch, df, -1)
    assert sorted(
        map(tuple, fast.collect()), key=lambda t: (str(t[0]), str(t[1]))
    ) == sorted(map(tuple, slow.collect()), key=lambda t: (str(t[0]), str(t[1])))


def test_cc_empty_edge_list(spark, monkeypatch):
    df = spark.createDataFrame([], "src: bigint, dst: bigint")
    fast = connected_components(df)
    slow = _cc_bound(monkeypatch, df, -1)
    assert fast.schema == slow.schema
    assert fast.collect() == [] == slow.collect()


def test_cc_threshold_boundary(spark, monkeypatch):
    edges = [(i, i + 1) for i in range(10)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    at = _cc_bound(monkeypatch, df, 10)  # count == max -> driver
    below = _cc_bound(monkeypatch, df, 9)  # count > max -> loop
    assert sorted(map(tuple, at.collect())) == sorted(map(tuple, below.collect()))


def test_dedup_clusters_through_driver_path(spark):
    df = spark.createDataFrame([(i, f"d{i}") for i in range(6)], ["id", "text"])
    pairs = spark.createDataFrame([(1, 4), (4, 5)], ["id_a", "id_b"])
    out = dedup_clusters(df, pairs, "id")
    got = {r.id: r.cluster_id for r in out.collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 1, 5: 1}


def test_cc_downstream_join_and_groupby_work(spark):
    # the fast path returns a createDataFrame-backed frame; make sure
    # the usual consumer shapes (join back, count per component) plan
    # and execute against it
    edges = [(1, 2), (2, 3), (10, 11)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    comp = connected_components(df)
    sizes = comp.groupBy("component").agg(F.count("*").alias("n"))
    got = {r.component: r.n for r in sizes.collect()}
    assert got == {1: 3, 10: 2}
