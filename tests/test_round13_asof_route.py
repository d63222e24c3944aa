"""Round-13 guards for asof_join's SHARED routing probe.

Round 13 gives ``asof_join`` ONE group-size probe over the pinned
union frame whose decision routes EVERY carry (``nearest`` runs two);
per-carry ``adaptive=True`` probes were a measured net loss there
(VERDICT r12 #6).  Pinned here:

* bit-identical asof results across the two routes (the shared probe
  picks plain windows on these balanced keys; zeroed routing bounds
  force the chunked carries) for all three directions, including
  NULL-time rows on both sides and ``how='left'`` unmatched rows;
* ``route_plain`` pass-through on ``grouped_running_carry`` /
  ``grouped_prefix_sum``: an explicit decision skips the probe and
  still produces the chunked/plain-identical values.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import jibaro_spark.operators.relational as rel


@pytest.fixture(scope="module")
def sides(spark):
    lrows, rrows = [], []
    for k in range(6):
        for i in range(12):
            lrows.append((f"k{k}" if k else None, 100 + k * 1000 + i * 7, k * 100 + i))
        for j in range(15):
            # some right rows share timestamps with lefts (inclusive
            # semantics), one NULL-time right per key (fence)
            rrows.append(
                (
                    f"k{k}" if k else None,
                    None if j == 7 else 100 + k * 1000 + j * 5,
                    k * 1000 + j,
                )
            )
    left = spark.createDataFrame(lrows, "k string, lt long, lid long")
    right = spark.createDataFrame(rrows, "rk string, rt long, rid long")
    return left, right


def _run(monkeypatch, left, right, direction, how, plain):
    probe = rel.carry_routes_plain
    decisions = []
    with monkeypatch.context() as m:
        m.setattr(
            rel,
            "carry_routes_plain",
            lambda *a, **kw: decisions.append(probe(*a, **kw)) or decisions[-1],
        )
        if not plain:
            m.setattr(rel, "_CARRY_PLAIN_MAX_ABS", 0)
            m.setattr(rel, "_CARRY_PLAIN_SHARE", 0)
        out = rel.asof_join(
            left,
            right,
            left_on="k",
            right_on="rk",
            left_time="lt",
            right_time="rt",
            right_tiebreak="rid",
            how=how,
            direction=direction,
        )
    # one shared probe per join, and it took the route under test
    assert decisions == [plain]
    return sorted(
        ((r["k"], r["lt"], r["lid"], r["rt"], r["rid"]) for r in out.collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("how", ["inner", "left"])
def test_asof_regimes_bit_identical(monkeypatch, sides, direction, how):
    left, right = sides
    plain = _run(monkeypatch, left, right, direction, how, plain=True)
    chunked = _run(monkeypatch, left, right, direction, how, plain=False)
    assert plain == chunked
    assert plain  # non-vacuous


def test_route_plain_passthrough_matches_probe(spark):
    rows = [(f"g{i % 4}", i, i * 3 if i % 5 else None) for i in range(80)]
    df = spark.createDataFrame(rows, "k string, t int, v int")
    base = rel.grouped_running_carry(
        df, ["k"], [F.col("t").asc()], last_cols=["v"], last_out=["lv"]
    )
    for route in (True, False):
        out = rel.grouped_running_carry(
            df,
            ["k"],
            [F.col("t").asc()],
            last_cols=["v"],
            last_out=["lv"],
            route_plain=route,
        )
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, base.collect())
        )
    ps = rel.grouped_prefix_sum(
        df, ["k"], ["t"], "v", "cv", total_cols=["tv"]
    )
    for route in (True, False):
        out = rel.grouped_prefix_sum(
            df, ["k"], ["t"], "v", "cv", total_cols=["tv"], route_plain=route
        )
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, ps.collect())
        )


def test_shared_probe_decision_is_exposed(spark):
    balanced = spark.createDataFrame(
        [(f"g{i % 16}", i) for i in range(160)], "k string, t int"
    )
    assert rel.carry_routes_plain(balanced, ["k"]) is True
    # one dominant group past BOTH bounds (floor lowered like the r12
    # routing test does) → chunked
    hot = spark.createDataFrame(
        [("hot", i) for i in range(300)] + [(f"g{i}", i) for i in range(8)],
        "k string, t int",
    )
    orig = rel._CARRY_PLAIN_MAX_ABS
    rel._CARRY_PLAIN_MAX_ABS = 100
    try:
        assert rel.carry_routes_plain(hot, ["k"]) is False
    finally:
        rel._CARRY_PLAIN_MAX_ABS = orig
