"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  The run makes the workload's inputs
from the seed, sets up a Spark session (launching its JVM), checks the
program's outputs outside the timed region, measures for ``--seconds``
and prints one JSON object as the last line of stdout:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  Diagnostics go to stderr.  Everything it writes stays
under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("cdc_pipeline", "lake_analytics", "llm_curation")
#: The query mixes read a copy of the repository's seed-42 test fixture
#: at sf0.01 (see TESTDATA.md); a run's own seed permutes their order.
FIXTURE = os.path.join(ROOT, "perfbench", "fixture", "sf0.01")


def _confine_to_checkout(run_dir: str) -> dict[str, str]:
    """Point every scratch location of Python, the JVM and Spark into
    ``run_dir``; returns the Spark confs for it."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # for every JVM, the spark-submit launcher's too; without UsePerfData
    # a JVM writes its hsperfdata file under /tmp whatever its tmpdir.
    # Fixed JIT compiler threads keep their CPU attributable (proc.py).
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.memory": "4g",
    }


def set_up(conf: dict, warm_paths: list[str], tracer):
    """Launch the JVM, build the session and warm it up, as a user's
    first ``build_session`` in a process does; returns the session and
    the build and warm-up times."""
    from jibaro_spark.session import build_session

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = build_session(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )
    t1 = time.perf_counter()
    for p in warm_paths:
        spark.read.parquet(p).count()
    tracer.sc = spark.sparkContext
    return spark, t1 - t0, time.perf_counter() - t1


def shut_down(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def make_workload(name: str, seed: int, run_dir: str, tracer):
    """The workload object, with its inputs generated (untimed)."""
    if name == "cdc_pipeline":
        from perfbench.cdc_loop import CdcLoop

        return CdcLoop(tracer, os.path.join(run_dir, "cdc"), seed)
    from perfbench.check import oracle_expectations
    from perfbench.mixes import MIXES, QueryMix

    expected = oracle_expectations(FIXTURE, sorted(MIXES[name]))
    return QueryMix(tracer, FIXTURE, MIXES[name], seed, expected)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    traced = bool(args.trace)

    sys.path.insert(0, ROOT)
    import jibaro_spark  # noqa: F401  (fails outside a checkout of the repo)

    from perfbench import layers
    from perfbench.check import log
    from perfbench.proc import peak_rss_mb, steal
    from perfbench.tracing import Tracer, event_log_file

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = [m["name"] for m in json.load(f)["per_layer" if traced else "end_to_end"]]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = _confine_to_checkout(run_dir)
    log_dir = os.path.join(run_dir, "eventlog")
    if traced:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    tracer = Tracer(run_id=f"{args.workload}-{args.seed}")
    steal0 = steal()
    t_gen = time.perf_counter()
    workload = make_workload(args.workload, args.seed, run_dir, tracer)
    gen_s = time.perf_counter() - t_gen

    spark = None
    try:
        spark, build_s, warm_s = set_up(conf, workload.warm_paths, tracer)
        log(f"{args.workload} seed={args.seed} gen={gen_s:.2f}s "
            f"build={build_s:.3f}s warm-up={warm_s:.3f}s")
        if traced:
            tracer.install()
        try:
            workload.run(spark, args.seconds, traced)
        finally:
            tracer.uninstall()
        rss = peak_rss_mb(os.getpid()) + peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            shut_down(spark)
    for p in workload.problems:
        log(p)

    e2e = workload.end_to_end()
    e2e["setup_s"] = build_s + warm_s
    steal1 = steal()
    log(f"end-to-end {json.dumps(e2e)}; CPU steal "
        f"{100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.1f}%")
    if traced:
        tracer.attribute(event_log_file(log_dir, app_id))
        tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
        setup = {"build_s": build_s, "warmup_s": warm_s, "rss_mb": rss}
        metrics = layers.per_layer(args.workload, tracer.spans, workload, setup)
    else:
        metrics = layers.end_to_end(e2e)
    if sorted(metrics) != sorted(declared):
        raise RuntimeError("metrics differ from the list in BENCHMARK.json")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": workload.failed == 0,
        "attempted": workload.attempted,
        "failed": workload.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
