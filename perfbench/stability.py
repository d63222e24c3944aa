"""Run-to-run spread of the end-to-end metrics, in two independent sets.

    python3 perfbench/stability.py --seeds 10 [--workloads a,b] [--out FILE]

Runs ``BENCHMARK.json``'s command for every workload on seeds 1..N, then
again on the same seeds as a second set, one run at a time.  For each set
it reports every end-to-end metric's median, quartiles
(``statistics.quantiles(n=4)``) and spread, the distance between the
quartiles as a share of the median.  It then checks two things: every
spread is within the metric's bound, and the two sets' medians differ
by no more than the bound, in either direction.  The
report goes to stdout as JSON and to ``--out`` when given; the exit code
is 1 when a check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    args = cmd + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(args, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    out["run_s"] = time.perf_counter() - t0
    print(f"{workload} seed {seed}: {out['run_s']:.1f}s "
          + json.dumps({m: round(v["value"], 4) for m, v in out["metrics"].items()}),
          file=sys.stderr, flush=True)
    return out


def summarize(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2, "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    with open("/proc/cpuinfo") as f:
        cpu = next((line.split(":", 1)[1].strip() for line in f if line.startswith("model name")), "")
    report: dict = {"cpu": cpu, "cores": len(os.sched_getaffinity(0)), "workloads": {}}
    ok = True
    for w in workloads:
        sets = []
        for _ in range(2):
            runs = [run_once(bench["command"], w, s, bench["run_seconds"]) for s in range(1, args.seeds + 1)]
            sets.append({
                "failed": sum(r["failed"] for r in runs),
                "attempted": sum(r["attempted"] for r in runs),
                "run_s": [round(r["run_s"], 1) for r in runs],
                "metrics": {m: summarize([r["metrics"][m]["value"] for r in runs]) for m in metrics},
            })
            print(f"{w}: {json.dumps({m: round(v['spread'], 4) for m, v in sets[-1]['metrics'].items()})}",
                  file=sys.stderr, flush=True)
        checks = {}
        for m, spec in metrics.items():
            a, b = sets[0]["metrics"][m], sets[1]["metrics"][m]
            worse = (b["median"] - a["median"]) / a["median"]
            if spec["better"] == "higher":
                worse = -worse
            spread_ok = max(a["spread"], b["spread"]) <= spec["bound"]
            checks[m] = {"spread_ok": spread_ok, "second_vs_first": worse, "agree": abs(worse) <= spec["bound"]}
            ok = ok and spread_ok and checks[m]["agree"]
        report["workloads"][w] = {"sets": sets, "checks": checks}
    text = json.dumps(report, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(text)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
