"""Round-12 guards for the ADAPTIVE plain-window routing of
``ntile_exact``.

The chunked NTILE (range repartition + eager checkpoint + per-chunk
offset collect) is the scale form — it never funnels a corpus into a
single-task window — but it costs 3 jobs per call on inputs that
would sort in one task for ~nothing (q_rfm_segments pays it three
times).  Round 12 adds a one-``count()`` probe that routes inputs
under the single-task sort floor (``_CARRY_PLAIN_MAX_ABS``) through
the native ``NTILE(k)`` window.  Pinned here:

* bit-identical output across the two regimes (same input, adaptive
  on vs off) for several k, including n % k != 0, k > n, and k = 1;
* identical schemas across regimes;
* the routing: a small input with ``adaptive=True`` takes the native
  window (``ntile`` appears in the plan), and the floor forces the
  chunked route back (no ``ntile`` node — the bucket arithmetic form).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import jibaro_spark.operators.relational as rel


@pytest.fixture(scope="module")
def frame(spark):
    # 103 rows: ties on v (broken by id), negatives, a skewed value
    rows = [(i, (i * 7) % 13 if i % 9 else 0) for i in range(103)]
    return spark.createDataFrame(rows, "id int, v int")


def _buckets(df, k, adaptive):
    out = rel.ntile_exact(df, k, ["v", "id"], out_col="b", adaptive=adaptive)
    return sorted((r["id"], r["b"]) for r in out.collect())


@pytest.mark.parametrize("k", [1, 4, 7, 10, 500])
def test_plain_equals_chunked(spark, frame, k):
    """THE invariant: same input, both regimes, identical buckets —
    k=500 > n covers the degenerate more-buckets-than-rows case."""
    assert _buckets(frame, k, True) == _buckets(frame, k, False)


def test_schema_identical_across_regimes(spark, frame):
    a = rel.ntile_exact(frame, 4, ["v", "id"], out_col="b", adaptive=True)
    b = rel.ntile_exact(frame, 4, ["v", "id"], out_col="b", adaptive=False)
    assert a.schema == b.schema


def test_matches_native_ntile(spark, frame):
    """Both routes must equal Spark's own NTILE (the SQL definition)."""
    from pyspark.sql.window import Window

    w = Window.orderBy("v", "id")
    native = sorted(
        (r["id"], r["b"])
        for r in frame.withColumn("b", F.ntile(7).over(w).cast("long")).collect()
    )
    assert _buckets(frame, 7, True) == native
    assert _buckets(frame, 7, False) == native


def test_routing(spark, frame, monkeypatch):
    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    # small input + adaptive → native ntile window in the plan
    assert "ntile(" in plan(
        rel.ntile_exact(frame, 4, ["v", "id"], out_col="b", adaptive=True)
    )
    # the floor forces the chunked route (bucket arithmetic, no ntile)
    monkeypatch.setattr(rel, "_CARRY_PLAIN_MAX_ABS", 10)
    assert "ntile(" not in plan(
        rel.ntile_exact(frame, 4, ["v", "id"], out_col="b", adaptive=True)
    )


def _ranks(df, adaptive):
    out = rel.global_row_number(df, ["v", "id"], out_col="rn", adaptive=adaptive)
    return sorted((r["id"], r["rn"]) for r in out.collect())


def test_row_number_plain_equals_chunked(spark, frame):
    """Same invariant for global_row_number's adaptive route."""
    assert _ranks(frame, True) == _ranks(frame, False)


def test_row_number_schema_and_route(spark, frame, monkeypatch):
    a = rel.global_row_number(frame, ["v", "id"], out_col="rn", adaptive=True)
    b = rel.global_row_number(frame, ["v", "id"], out_col="rn", adaptive=False)
    assert a.schema == b.schema

    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    # the chunked route stamps and re-partitions by the range-chunk id
    # __gpid; the plain route is a bare window over the input
    assert "__gpid" not in plan(a)
    assert "__gpid" in plan(b)
    # the floor forces the chunked route back
    monkeypatch.setattr(rel, "_CARRY_PLAIN_MAX_ABS", 10)
    assert "__gpid" in plan(
        rel.global_row_number(frame, ["v", "id"], out_col="rn", adaptive=True)
    )


def test_empty_input_both_regimes(spark):
    empty = spark.createDataFrame([], "id int, v int")
    for adaptive in (True, False):
        out = rel.ntile_exact(empty, 4, ["v", "id"], out_col="b", adaptive=adaptive)
        assert out.count() == 0
        assert dict(out.dtypes)["b"] == "bigint"
