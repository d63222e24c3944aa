#!/usr/bin/env python
"""Per-query performance tooling: time declared queries, capture their
formatted plans, or A/B a runtime SQL conf inside one session.

Usage:
    python scripts/perf.py time q_a q_b ... [--runs N]
    python scripts/perf.py plan q_a q_b ... [--tag before|after]
    python scripts/perf.py both q_a q_b ... [--runs N] [--tag TAG]
    python scripts/perf.py ab   q_a q_b ... --conf KEY ON_VAL OFF_VAL [--rounds N]

``SPARK_GRAFT_SF_DIR`` names the dataset directory, as for bench.py
(see TESTDATA.md for the fixtures).

time: bench.py's method — noop sink, N runs (default 2), report the min.
plan: writes ``plans/<name>_<tag>.txt`` (``plans/r12`` and ``plans/r13``
keep earlier rounds' captures).
ab: full-bench totals swing with neighbour load (back-to-back benches
measured 180/213/293 s with nonzero steal), so cross-run comparisons
are unusable for small deltas.  ``ab`` alternates ON and OFF runs of
each query inside one session (ABBA order, default 2 rounds), so both
sides see the same ambient load, and reports per-side minima plus the
CPU steal% observed during the run.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _cpu_snap():
    with open("/proc/stat") as f:
        p = f.readline().split()
    vals = list(map(int, p[1:11]))
    return sum(vals), vals[7]  # total, steal


def _run_noop(spark, dq, sf_dir, label: str) -> float:
    spark.sparkContext.setJobDescription(label)
    t0 = time.perf_counter()
    dq.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=("time", "plan", "both", "ab"))
    ap.add_argument("names", nargs="+", metavar="QUERY")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--conf", nargs=3, metavar=("KEY", "ON_VAL", "OFF_VAL"))
    ap.add_argument("--rounds", type=int, default=2)
    args = ap.parse_args()
    if (args.mode == "ab") != (args.conf is not None):
        ap.error("--conf KEY ON_VAL OFF_VAL goes with (and only with) ab")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        ap.error("set SPARK_GRAFT_SF_DIR to the dataset directory")

    from jibaro_spark.session import build_session

    spark = build_session(app_name="jibaro_spark_perf")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from jibaro_spark.queries import REGISTRY

    # same warmup as bench.py
    for t in ("lineitem", "orders", "documents", "embeddings", "events"):
        try:
            spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        except Exception:
            pass

    if args.mode == "ab":
        key, on_val, off_val = args.conf
        t0_tot, t0_steal = _cpu_snap()
        ab: dict[str, tuple[float, float]] = {}
        for name in args.names:
            on, off = [], []
            sides = ((on_val, on), (off_val, off))
            for rnd in range(args.rounds):
                # ABBA: the side that runs first (and pays a cold
                # query's codegen) alternates per round
                for val, runs in sides if rnd % 2 == 0 else sides[::-1]:
                    spark.conf.set(key, val)
                    label = f"{name}[{key}={val}]"
                    runs.append(round(_run_noop(spark, REGISTRY[name], sf_dir, label), 3))
            ab[name] = (min(on), min(off))
            print(f"{name}: on={on} off={off}", flush=True)
        spark.sparkContext.setJobDescription(None)
        t1_tot, t1_steal = _cpu_snap()
        steal_pct = 100.0 * (t1_steal - t0_steal) / max(t1_tot - t0_tot, 1)
        print(json.dumps({"ab": ab, "steal_pct": round(steal_pct, 2)}, separators=(",", ":")))
        return

    plan_dir = os.path.join(REPO, "plans")
    timings: dict[str, float] = {}
    for name in args.names:
        dq = REGISTRY[name]
        if args.mode in ("plan", "both"):
            df = dq.fn(spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore
                df._jdf.queryExecution(), "formatted"
            )
            out = os.path.join(plan_dir, f"{name}_{args.tag}.txt")
            with open(out, "w") as f:
                f.write(txt)
            print(f"plan -> {out}", flush=True)
        if args.mode in ("time", "both"):
            rs = [_run_noop(spark, dq, sf_dir, name) for _ in range(args.runs)]
            spark.sparkContext.setJobDescription(None)
            timings[name] = round(min(rs), 3)
            print(f"{name}: min={timings[name]} runs={[round(r, 3) for r in rs]}",
                  flush=True)
    if timings:
        print(json.dumps({"timings": timings, "sf_dir": sf_dir}, separators=(",", ":")))


if __name__ == "__main__":
    main()
