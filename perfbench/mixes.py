"""The two query-mix workloads: ``lake_analytics`` and ``llm_curation``.

Each maps the registry names it runs to an operator family: the
``jibaro_spark.operators`` module the query calls, or, for a query written
in plain DataFrame code, the family of its shape (ordered windows are
``sequential``, joins and aggregates ``relational``).
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time

from jibaro_spark.queries import REGISTRY

from perfbench.check import log, summarize
from perfbench.proc import cpu_seconds

LAKE_ANALYTICS = {
    "q1_pricing_summary": "relational",
    "q6_forecast_revenue": "relational",
    "q_salted_join": "relational",
    "q_running_customer_spend": "sequential",
    "q_sessionize_events": "sequential",
    "q_asof_purchase_click": "relational",
    "q_bfs_hops": "graph",
}

LLM_CURATION = {
    "q_containment_pairs": "dedup",
    "q_edit_distance_qgram": "dedup",
    "q_mmr_diversify": "similarity",
    "q_text_token_stats": "textops",
    "q_pii_redact": "textops",
    "q_cms_heavy_hitters_md5": "sketches",
}

FAMILIES = ("relational", "sequential", "graph", "dedup", "similarity", "textops", "sketches")

#: Queries that get their own per-layer metrics: the slowest of each mix,
#: which the open performance items name.
NAMED = (
    "q_containment_pairs",
    "q_edit_distance_qgram",
    "q_mmr_diversify",
    "q_bfs_hops",
    "q_asof_purchase_click",
)

MIXES = {"lake_analytics": LAKE_ANALYTICS, "llm_curation": LLM_CURATION}


class QueryMix:
    """One closed-loop client running a mix in a seeded order against
    the tables in ``data_dir``; ``expected`` holds the oracle's answers."""

    def __init__(self, tracer, data_dir: str, mix: dict, seed: int, expected: dict) -> None:
        self.tracer = tracer
        self.data_dir = data_dir
        self.mix = mix
        self.expected = expected
        self.order = sorted(mix)
        random.Random(seed).shuffle(self.order)
        self.warm_paths = [os.path.join(data_dir, "lineitem.parquet")]
        self.spark = None
        self.passes: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def run(self, spark, seconds: float, traced: bool) -> None:
        self.spark = spark
        t = time.perf_counter()
        self.check()
        log(f"check pass {time.perf_counter() - t:.2f}s")
        self.timed(seconds, traced)

    def check(self) -> None:
        """Run every query once, untimed, and compare its rows with the
        DuckDB oracle's."""
        for name in self.order:
            self.attempted += 1
            try:
                df = REGISTRY[name].fn(self.spark, self.data_dir)
                if summarize(df.columns, [tuple(r) for r in df.collect()]) == self.expected[name]:
                    continue
                self.problems.append(f"{name}: result differs from the oracle")
            except Exception as exc:  # a failing query is counted, not fatal
                self.problems.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            self.failed += 1

    def timed(self, seconds: float, traced: bool) -> None:
        """Passes over the mix until ``seconds`` have gone by: at least
        one, or in a traced run at least two, alternating plain and
        traced.  A query is timed as plan construction (the registry
        function, with the eager pins and probes it runs) plus the final
        ``noop`` write."""
        t_start = time.perf_counter()
        while True:
            n = len(self.passes)
            self.tracer.active = traced and n % 2 == 1
            times = {}
            cpu0 = cpu_seconds()
            t_pass = time.perf_counter()
            for name in self.order:
                self.attempted += 1
                try:
                    with self.tracer.span("queries.build", group=True, query=name, pass_no=n):
                        t0 = time.perf_counter()
                        df = REGISTRY[name].fn(self.spark, self.data_dir)
                        t1 = time.perf_counter()
                    with self.tracer.span("queries.exec", group=True, query=name, pass_no=n):
                        df.write.format("noop").mode("overwrite").save()
                        times[name] = (t1 - t0, time.perf_counter() - t1)
                except Exception as exc:  # a failing query is counted, not fatal
                    self.failed += 1
                    self.problems.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            wall = time.perf_counter() - t_pass
            self.passes.append({"wall": wall, "cpu": cpu_seconds() - cpu0,
                                "traced": self.tracer.active, "queries": times})
            self.tracer.active = False
            log(f"pass {n} {wall:.3f}s, {self.passes[-1]['cpu']:.2f} CPU s (build, exec): "
                + json.dumps({q: [round(x, 3) for x in t] for q, t in times.items()}))
            if time.perf_counter() - t_start >= seconds and len(self.passes) >= 1 + traced:
                break

    def end_to_end(self) -> dict:
        """Median CPU and wall time of a plain pass over the mix."""
        plain = [p for p in self.passes if not p["traced"]]
        return {"cpu_s": statistics.median(p["cpu"] for p in plain),
                "wall_s": statistics.median(p["wall"] for p in plain)}
