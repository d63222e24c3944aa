"""Spans recorded from the benchmark's side of each layer boundary.

A span has a name, start, end, parent span and run id, and is kept in
memory until the run ends.  Spans come from ``Tracer.span`` blocks in the
workload code and from wrappers that ``Tracer.install`` puts around public
functions of ``jibaro_spark`` for the length of a traced run; nothing in
the package changes.

Spark work is attributed to spans from the application's event log, which
a traced run writes uncompressed (``spark.eventLog.*``).  A span opened
with ``group=True`` sets a Spark job group; its jobs are the group's jobs,
read back through ``statusTracker().getJobIdsForGroup``.  Hops run their
micro-batches on Spark's stream-execution thread, which sets a job group of
its own, so every other job goes to the innermost span open when it was
submitted.  The workload loop is serial, so those windows never overlap.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import time
from contextlib import contextmanager

#: ``module path -> function names`` wrapped in a traced run.  These are the
#: names ``jibaro_spark.streaming.pipeline`` calls: its imported
#: ``write_table`` and ``cdc_merge_table``, the Avro decode entry point it
#: imports at call time, the transaction log, and the maintenance hooks.
WRAPPED = {
    "jibaro_spark.streaming.pipeline": {
        "write_table": "io.write_table",
        "cdc_merge_table": "cdc.merge",
    },
    "jibaro_spark.codecs.avro_python": {
        "decode_confluent_batch_avro_python": "codecs.decode",
    },
    "jibaro_spark.txlog": {
        "write_versioned": "txlog.write_versioned",
        "latest_version": "txlog.replay",
        "snapshot_files": "txlog.replay",
    },
    "jibaro_spark.maintenance": {
        "compact": "maintenance.compact",
        "append_history_metrics": "maintenance.history",
        "generate_manifest": "maintenance.manifest",
        "vacuum_if_due": "maintenance.vacuum",
    },
}

SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class Tracer:
    """Span recorder for one run.  ``active`` switches recording on and
    off inside a traced run, so plain and traced executions can alternate
    in one process and give the tracing overhead."""

    def __init__(self, run_id: str) -> None:
        self.active = False
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._originals: list[tuple] = []
        self.sc = None

    @contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        if not self.active:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        gid = None
        if group:
            gid = f"{self.run_id}-{rec['id']}"
            rec["group"] = gid
            self.sc.setJobGroup(gid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if gid is not None:
                rec["group_jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(gid))
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # -- wrappers -------------------------------------------------------

    def install(self) -> None:
        for mod_name, funcs in WRAPPED.items():
            mod = importlib.import_module(mod_name)
            for fn_name, span_name in funcs.items():
                orig = getattr(mod, fn_name)
                self._originals.append((mod, fn_name, orig))
                setattr(mod, fn_name, self._wrap(orig, span_name))

    def uninstall(self) -> None:
        for mod, fn_name, orig in reversed(self._originals):
            setattr(mod, fn_name, orig)
        self._originals.clear()

    def _wrap(self, fn, span_name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(span_name) as rec:
                if span_name == "txlog.write_versioned":
                    table = args[1] if len(args) > 1 else kwargs["table"]
                    before = _dir_bytes(table)
                out = fn(*args, **kwargs)
                if span_name == "txlog.write_versioned":
                    rec["bytes_added"] = _dir_bytes(table) - before
                elif span_name == "cdc.merge":
                    rec["rows_written"] = int((out or {}).get("rowsWritten", 0))
                elif span_name == "codecs.decode":
                    rec["schema_pairs"] = len(out)
                return out

        return wrapper

    # -- attribution ----------------------------------------------------

    def attribute(self, event_log: str) -> None:
        """Add the Spark counters of ``event_log`` to every span,
        inclusive of its children."""
        jobs, stage_job, stage_tasks, task_sums = _read_event_log(event_log)
        by_group = {s["group"]: s for s in self.spans if "group" in s}
        ordered = sorted(self.spans, key=lambda s: s["start"])
        for s in self.spans:
            for k in SPARK_KEYS:
                s.setdefault(k, 0)
        per_job: dict[int, dict] = {j: dict.fromkeys(SPARK_KEYS, 0) for j in jobs}
        for stage, job in stage_job.items():
            if stage in stage_tasks and job in per_job:
                acc = per_job[job]
                acc["stages"] += 1
                acc["tasks"] += stage_tasks[stage]
                for k, v in task_sums.get(stage, {}).items():
                    acc[k] += v
        for job, (submitted, group) in jobs.items():
            owner = by_group.get(group)
            if owner is None:
                owner = _innermost(ordered, submitted)
            acc = per_job[job]
            acc["jobs"] = 1
            while owner is not None:
                for k in SPARK_KEYS:
                    owner[k] += acc[k]
                owner = self.spans[owner["parent"]] if owner["parent"] is not None else None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _innermost(ordered: list[dict], t: float):
    best = None
    for s in ordered:
        if s["start"] > t:
            break
        if s.get("end", float("inf")) >= t and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def event_log_file(log_dir: str, app_id: str) -> str:
    """The finished, uncompressed event log of ``app_id``."""
    hits = [p for p in glob.glob(os.path.join(log_dir, app_id + "*")) if not p.endswith(".inprogress")]
    if not hits:
        raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
    return hits[0]


def _read_event_log(path: str):
    jobs: dict[int, tuple[float, str | None]] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, int] = {}
    task_sums: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[job] = (ev["Submission Time"] / 1000.0, props.get("spark.jobGroup.id"))
                for st in ev.get("Stage IDs", []):
                    stage_job.setdefault(st, job)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stage_tasks[info["Stage ID"]] = info.get("Number of Tasks", 0)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                acc = task_sums.setdefault(ev["Stage ID"], dict.fromkeys(SPARK_KEYS[3:], 0))
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                acc["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                acc["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs, stage_job, stage_tasks, task_sums
