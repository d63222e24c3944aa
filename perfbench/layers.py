"""Metric catalogue and the per-layer numbers of a traced run.

``END_TO_END`` and ``PER_LAYER`` are the metric lists of
``BENCHMARK.json``; every run reports every metric of its list, with 0 for
a layer its workload does not use.  Per-layer values come from the spans
of a traced run (see ``tracing``) and are normalised so that they do not
depend on how many passes or batches fitted in the run: a query-mix value
is per traced pass over the mix, a ``cdc_pipeline`` value is the bulk
load's (``load_s`` and the ``codecs``/``io`` metrics) or the median over
the traced incremental batches.
"""

from __future__ import annotations

import statistics

from perfbench.mixes import FAMILIES, MIXES, NAMED
from perfbench.tracing import SPARK_KEYS

#: ``(name, unit, better)``; the bounds are in ``BENCHMARK.json``.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
]

HOPS = ("source_to_raw", "raw_to_staged", "staged_to_curated")
MAINTENANCE = ("compact", "history", "manifest", "vacuum")
LAYERS = ("raw", "staged", "curated", "control")


def _catalogue() -> list[tuple[str, str, str]]:
    m = [
        ("session.build_s", "s", "lower"),
        ("session.warmup_s", "s", "lower"),
        ("session.peak_rss_mb", "MB", "lower"),
        ("queries.p50_s", "s", "lower"),
        ("queries.build_s", "s", "lower"),
        ("queries.build_jobs", "count", "lower"),
        ("queries.build_share", "ratio", "lower"),
        ("queries.exec_s", "s", "lower"),
        ("queries.exec_jobs", "count", "lower"),
    ]
    for fam in FAMILIES:
        m += [(f"operators.{fam}.build_s", "s", "lower"),
              (f"operators.{fam}.exec_s", "s", "lower"),
              (f"operators.{fam}.jobs", "count", "lower")]
    for q in NAMED:
        m += [(f"q.{q}.build_s", "s", "lower"),
              (f"q.{q}.exec_s", "s", "lower"),
              (f"q.{q}.jobs", "count", "lower")]
    m += [("spark.executor_run_s", "s", "lower"),
          ("spark.shuffle_read_bytes", "bytes", "lower"),
          ("spark.shuffle_write_bytes", "bytes", "lower"),
          ("spark.spill_bytes", "bytes", "lower"),
          ("spark.stages", "count", "lower"),
          ("spark.tasks", "count", "lower")]
    for fam in FAMILIES:
        m += [(f"spark.{fam}.executor_run_s", "s", "lower"),
              (f"spark.{fam}.shuffle_read_bytes", "bytes", "lower")]
    for hop in HOPS:
        m += [(f"pipeline.{hop}.load_s", "s", "lower"),
              (f"pipeline.{hop}.batch_p50_s", "s", "lower"),
              (f"pipeline.{hop}.jobs", "count", "lower")]
    m += [("pipeline.load_events_per_s", "1/s", "higher"),
          ("pipeline.batch_p50_s", "s", "lower"),
          ("codecs.decode_build_s", "s", "lower"),
          ("codecs.schema_pairs", "count", "lower"),
          ("io.staged_write_s", "s", "lower"),
          ("io.staged_files", "count", "lower"),
          ("cdc.merge_s", "s", "lower"),
          ("cdc.rows_written", "count", "lower"),
          ("cdc.rows_rewritten_per_change", "ratio", "lower"),
          ("txlog.commits", "count", "lower"),
          ("txlog.write_versioned_s", "s", "lower"),
          ("txlog.bytes_added", "bytes", "lower"),
          ("txlog.replay_s", "s", "lower")]
    m += [(f"maintenance.{step}_s", "s", "lower") for step in MAINTENANCE]
    m += [(f"lake.bytes_written.{layer}", "bytes", "lower") for layer in LAYERS]
    m += [("lake.write_amp", "ratio", "lower"),
          ("lake.curated_space_amp", "ratio", "lower"),
          ("run.wall_s", "s", "lower"),
          ("run.failed_frac", "ratio", "lower"),
          ("trace.overhead_s", "s", "lower")]
    return m


PER_LAYER = _catalogue()
_UNITS = {name: unit for name, unit, _ in PER_LAYER + END_TO_END}


def _out(values: dict) -> dict:
    return {k: {"value": v, "unit": _UNITS[k]} for k, v in values.items()}


def end_to_end(e2e: dict) -> dict:
    return _out({name: e2e[name] for name, *_ in END_TO_END})


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(workload: str, spans: list[dict], loop, setup: dict) -> dict:
    v = {name: 0.0 for name, _, _ in PER_LAYER}
    v["session.build_s"] = setup["build_s"]
    v["session.warmup_s"] = setup["warmup_s"]
    v["session.peak_rss_mb"] = setup["rss_mb"]
    v["run.failed_frac"] = loop.failed / loop.attempted
    v["run.wall_s"] = loop.end_to_end()["wall_s"]
    if workload == "cdc_pipeline":
        _pipeline(v, spans, loop)
    else:
        _queries(v, spans, loop.passes, MIXES[workload])
    return _out(v)


def _queries(v: dict, spans: list[dict], passes: list[dict], mix: dict) -> None:
    n = sum(p["traced"] for p in passes)
    build = [s for s in spans if s["name"] == "queries.build"]
    execs = [s for s in spans if s["name"] == "queries.exec"]
    v["queries.build_s"] = sum(map(_dur, build)) / n
    v["queries.exec_s"] = sum(map(_dur, execs)) / n
    v["queries.build_jobs"] = sum(s["group_jobs"] for s in build) / n
    v["queries.exec_jobs"] = sum(s["group_jobs"] for s in execs) / n
    v["queries.build_share"] = v["queries.build_s"] / (v["queries.build_s"] + v["queries.exec_s"])
    per_query: dict[tuple, float] = {}
    for s in build + execs:
        per_query[(s["query"], s["pass_no"])] = per_query.get((s["query"], s["pass_no"]), 0.0) + _dur(s)
    v["queries.p50_s"] = _median(per_query.values())
    for s in build + execs:
        fam = mix[s["query"]]
        phase = "build" if s["name"] == "queries.build" else "exec"
        v[f"operators.{fam}.{phase}_s"] += _dur(s) / n
        v[f"operators.{fam}.jobs"] += s["group_jobs"] / n
        for k in SPARK_KEYS[1:]:
            v[f"spark.{k}"] += s[k] / n
        v[f"spark.{fam}.executor_run_s"] += s["executor_run_s"] / n
        v[f"spark.{fam}.shuffle_read_bytes"] += s["shuffle_read_bytes"] / n
        if s["query"] in NAMED:
            v[f"q.{s['query']}.{phase}_s"] += _dur(s) / n
            v[f"q.{s['query']}.jobs"] += s["group_jobs"] / n
    plain = [p["wall"] for p in passes if not p["traced"]]
    traced = [p["wall"] for p in passes if p["traced"]]
    v["trace.overhead_s"] = _median(traced) - _median(plain)


def _pipeline(v: dict, spans: list[dict], loop) -> None:
    by_id = {s["id"]: s for s in spans}

    def cycle_of(s):
        while s is not None and s["name"] != "pipeline.cycle":
            s = by_id.get(s["parent"])
        return None if s is None else s["index"]

    per_cycle: dict[int, list[dict]] = {}
    for s in spans:
        c = cycle_of(s)
        if c is not None:
            per_cycle.setdefault(c, []).append(s)
    bulk = per_cycle.get(0, [])
    incremental = [per_cycle[c] for c in sorted(per_cycle) if c > 0]

    def total(group, name, key=None):
        return sum((s.get(key, 0) if key else _dur(s)) for s in group if s["name"] == name)

    def top_level_replay(group):
        return sum(_dur(s) for s in group if s["name"] == "txlog.replay"
                   and by_id.get(s["parent"], {}).get("name") != "txlog.replay")

    for hop in HOPS:
        v[f"pipeline.{hop}.load_s"] = total(bulk, f"pipeline.{hop}")
        v[f"pipeline.{hop}.batch_p50_s"] = _median(total(g, f"pipeline.{hop}") for g in incremental)
        v[f"pipeline.{hop}.jobs"] = _median(total(g, f"pipeline.{hop}", "jobs") for g in incremental)
    bulk_cycle = loop.cycles[0]
    v["pipeline.load_events_per_s"] = bulk_cycle["changes"] / bulk_cycle["freshness"]
    v["pipeline.batch_p50_s"] = _median(
        c["freshness"] for c in loop.cycles[1:] if c["traced"] and "freshness" in c
    )
    v["codecs.decode_build_s"] = total(bulk, "codecs.decode")
    v["codecs.schema_pairs"] = total(bulk, "codecs.decode", "schema_pairs")
    v["io.staged_write_s"] = total(bulk, "io.write_table")
    v["io.staged_files"] = loop.staged_files_after_bulk
    changes = {c["index"]: c["changes"] for c in loop.cycles}
    v["cdc.merge_s"] = _median(total(g, "cdc.merge") for g in incremental)
    v["cdc.rows_written"] = _median(total(g, "cdc.merge", "rows_written") for g in incremental)
    v["cdc.rows_rewritten_per_change"] = _median(
        total(g, "cdc.merge", "rows_written") / changes[cycle_of(g[0])] for g in incremental
    )
    v["txlog.commits"] = _median(sum(s["name"] == "txlog.write_versioned" for s in g) for g in incremental)
    v["txlog.write_versioned_s"] = _median(total(g, "txlog.write_versioned") for g in incremental)
    v["txlog.bytes_added"] = _median(total(g, "txlog.write_versioned", "bytes_added") for g in incremental)
    v["txlog.replay_s"] = _median(top_level_replay(g) for g in incremental)
    for step in MAINTENANCE:
        v[f"maintenance.{step}_s"] = _median(total(g, f"maintenance.{step}") for g in incremental)
    for k in SPARK_KEYS[1:]:
        v[f"spark.{k}"] = sum(s[k] for s in spans if s["name"] == "pipeline.cycle")
    lake = loop.lake_bytes()
    n_inc = len(loop.cycles) - 1
    for layer in LAYERS:
        v[f"lake.bytes_written.{layer}"] = lake["per_layer"][layer] / n_inc
    v["lake.write_amp"] = sum(lake["per_layer"].values()) / lake["source"]
    v["lake.curated_space_amp"] = loop.curated_space_amp()
    plain = [c["freshness"] for c in loop.cycles[1:] if not c["traced"] and "freshness" in c]
    traced = [c["freshness"] for c in loop.cycles[1:] if c["traced"] and "freshness" in c]
    v["trace.overhead_s"] = _median(traced) - _median(plain)
