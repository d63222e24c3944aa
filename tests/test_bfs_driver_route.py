"""Cost-based BFS routing: the driver queue BFS (symmetrized edge
count <= the shared driver bound) must return exactly what the
distributed level-synchronous loop returns — rows AND schema — and
its result must reach Spark through Arrow, with no Python worker.
"""

from __future__ import annotations

import logging

import pytest

from jibaro_spark.operators import graph
from jibaro_spark.operators.graph import bfs_distances, connected_components

CHAIN = [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3), (8, 9)]
CYCLE = [(0, 1), (1, 2), (2, 0), (3, 2)]

# name -> (edges, edge schema, sources, source schema, bfs kwargs)
CASES = {
    "chain_shortcut": (CHAIN, "src bigint, dst bigint", [(0,)], "node bigint", {}),
    "chain_truncated": (
        CHAIN, "src bigint, dst bigint", [(0,)], "node bigint", {"max_hops": 1},
    ),
    "directed_cycle": (
        CYCLE, "src bigint, dst bigint", [(0,)], "node bigint", {"directed": True},
    ),
    "multi_source": (CYCLE, "src bigint, dst bigint", [(0,), (3,), (0,)], "node bigint", {}),
    "null_source": (CHAIN, "src bigint, dst bigint", [(None,), (8,)], "node bigint", {}),
    "absent_source": (CHAIN, "src bigint, dst bigint", [(99,)], "node bigint", {}),
    "string_ids": (
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "src string, dst string", [("b",)], "node string", {"max_hops": 1},
    ),
    "int_sources_bigint_edges": (CHAIN, "src bigint, dst bigint", [(0,)], "node int", {}),
    "int_sources_unreached": (CHAIN, "src bigint, dst bigint", [(99,)], "node int", {}),
    "self_loops_only": ([(1, 1), (2, 2)], "src bigint, dst bigint", [(1,)], "node bigint", {}),
    "empty_edges": ([], "src bigint, dst bigint", [(1,)], "node bigint", {}),
}


def _key(row):
    return tuple((v is None, str(v)) for v in row)


def _rows(df):
    return sorted(map(tuple, df.collect()), key=_key)


def _route_lines(caplog):
    return [r.getMessage() for r in caplog.records if r.name == graph.__name__]


def _both(spark, monkeypatch, case):
    edges, edge_schema, sources, source_schema, kw = CASES[case]
    e = spark.createDataFrame(edges, edge_schema)
    s = spark.createDataFrame(sources, source_schema)
    fast = bfs_distances(e, s, **kw)
    with monkeypatch.context() as m:
        m.setattr(graph, "_DRIVER_EDGE_MAX", -1)
        slow = bfs_distances(e, s, **kw)
    return fast, slow


@pytest.mark.parametrize("case", sorted(CASES))
def test_bfs_driver_route_bit_identity(spark, monkeypatch, caplog, case):
    with caplog.at_level(logging.INFO, logger=graph.__name__):
        fast, slow = _both(spark, monkeypatch, case)
    routes = [m.rsplit("-> ", 1)[1] for m in _route_lines(caplog)]
    assert routes == ["driver", "distributed"], case
    assert fast.schema == slow.schema, case
    assert _rows(fast) == _rows(slow), case


def test_bfs_driver_route_expected_values(spark, monkeypatch):
    fast, _ = _both(spark, monkeypatch, "chain_shortcut")
    assert dict(_rows(fast)) == {0: 0, 1: 1, 2: 2, 3: 1, 4: 2}
    fast, _ = _both(spark, monkeypatch, "null_source")
    assert _rows(fast) == [(8, 0), (9, 1), (None, 0)]
    fast, _ = _both(spark, monkeypatch, "int_sources_bigint_edges")
    assert fast.schema["node"].dataType.typeName() == "long"
    fast, _ = _both(spark, monkeypatch, "int_sources_unreached")
    assert fast.schema["node"].dataType.typeName() == "integer"


def test_driver_route_results_have_no_python_rdd(spark):
    e = spark.createDataFrame(CHAIN, "src bigint, dst bigint")
    s = spark.createDataFrame([(0,)], "node bigint")
    for df in (bfs_distances(e, s), connected_components(e)):
        lineage = df._jdf.queryExecution().toRdd().toDebugString()
        assert "ParallelCollectionRDD" in lineage
        assert "PythonRDD" not in lineage


def test_router_logs_one_line_per_decision(spark, monkeypatch, caplog):
    e = spark.createDataFrame(CHAIN, "src bigint, dst bigint")
    s = spark.createDataFrame([(0,)], "node bigint")
    # the symmetrized, self-loop-free edge list has 12 rows
    monkeypatch.setattr(graph, "_DRIVER_EDGE_MAX", 12)
    with caplog.at_level(logging.INFO, logger=graph.__name__):
        bfs_distances(e, s)
        monkeypatch.setattr(graph, "_DRIVER_EDGE_MAX", 11)
        bfs_distances(e, s)
        connected_components(e)
        connected_components(
            spark.createDataFrame([(1, None)], "src bigint, dst bigint")
        )
    assert _route_lines(caplog) == [
        "graph route bfs_distances: edges=12 bound=12 -> driver",
        "graph route bfs_distances: edges=12 bound=11 -> distributed",
        "graph route connected_components: edges=6 bound=11 -> driver",
        "graph route connected_components: edges=1 bound=11"
        " -> distributed (NULL endpoint)",
    ]
