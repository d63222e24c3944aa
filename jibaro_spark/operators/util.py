"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(
    df: DataFrame,
    min_partitions: int | None = None,
    by: "str | list[str] | None" = None,
) -> DataFrame:
    """Repartition ONLY when the input is under-partitioned.

    Compute-heavy operators (minhash/simhash signatures, cosine
    verification) are bottlenecked by per-row expression cost, not I/O;
    a small parquet file arrives as 1 partition and would serialize the
    whole job onto one core.  At real scale the input already has ≥
    ``defaultParallelism`` partitions and this is a no-op — so the full
    shuffle only ever happens on small inputs where it is cheap.

    ``by``: optional column to hash-partition on instead of the default
    round-robin.  Round-robin is non-deterministic, which blocks BOTH
    cache-plan matching and ReusedExchange — operators that scan their
    input more than once (e.g. ``exact_quantiles_bucketed``) need a
    deterministic exchange or every pass repeats the scan+shuffle.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        from pyspark.sql import functions as F

        if by is not None:
            cols = [by] if isinstance(by, str) else list(by)
            return df.repartition(target, *[F.col(c) for c in cols])
        return df.repartition(target)
    return df


def dense_exchange(df: DataFrame, *cols: str, n: int | None = None) -> DataFrame:
    """Explicit hash repartition on upcoming join/agg keys for stages
    whose CPU-per-byte is extreme (signature verifies, per-pair
    scoring).

    AQE's partition coalescing sizes post-shuffle stages by BYTES
    (``advisoryPartitionSizeInBytes`` with a 1 MiB floor), so a stage
    whose shuffle is kilobytes but whose per-row compute is heavy
    collapses to a handful of tasks (measured 5-6 tasks on 32 cores
    for the q-gram verify at sf0.1; guide §2.2/§2.5).  An EXPLICIT
    user repartition on the same keys plans the identical exchange the
    downstream join/aggregate would insert — zero extra data movement
    — but is user-specified, which AQE coalescing leaves alone, so the
    dense stage keeps full parallelism.

    ``n`` defaults to max(defaultParallelism, shuffle.partitions) — at
    real scale that matches or exceeds what the planner would use, so
    this never REDUCES parallelism.  Trade-off: the exchange also
    opts out of AQE skew-splitting for that join; use only where the
    key distribution is bounded by construction (df-ordered prefix
    grams, capped posting lists).
    """
    from pyspark.sql import functions as F

    spark = df.sparkSession
    if n is None:
        n = max(
            spark.sparkContext.defaultParallelism,
            int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        )
    return df.repartition(n, *[F.col(c) for c in cols])
