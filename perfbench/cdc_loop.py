"""The ``cdc_pipeline`` workload: one closed-loop client driving the
raw -> staged -> curated hops of ``jibaro_spark.streaming.pipeline``.

A cycle lands one batch of source records as a parquet file, then runs
``source_to_raw``, ``raw_to_staged(content_type="avro-python")`` and
``staged_to_curated`` with a post-hook that calls the four maintenance
steps one by one.  The curated table lives on the transaction log
(``Settings(use_txlog=True)``), and the commit is visible when the log's
head reaches the cycle's version.  Cycle 0 is the bulk load; the later
cycles are the incremental batches.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from jibaro_spark import maintenance, txlog
from jibaro_spark.catalog import Catalog, Layer, TableRef
from jibaro_spark.config import Settings
from jibaro_spark.streaming import pipeline as pl

from perfbench import cdcgen
from perfbench.check import log, summarize
from perfbench.proc import cpu_seconds

PROJECT, DATABASE, TABLE = "lab", "inventory", "products"
MIN_BATCHES = 3  # crosses the schema change at cdcgen.EVOLVE_AT


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class CdcLoop:
    """The change series of ``seed`` run through a fresh lake under
    ``run_dir``."""

    def __init__(self, tracer, run_dir: str, seed: int) -> None:
        self.spark = None
        self.tracer = tracer
        self.series = cdcgen.Series(seed)
        shutil.rmtree(run_dir, ignore_errors=True)
        self.batch_dir = os.path.join(run_dir, "batches")
        self.source_dir = os.path.join(run_dir, "source_topic")
        self.lake_dir = os.path.join(run_dir, "lake")
        os.makedirs(self.batch_dir)
        os.makedirs(self.source_dir)
        self.batch_files = []
        for i, records in enumerate(self.series.batches):
            path = os.path.join(self.batch_dir, f"batch-{i:05d}.parquet")
            self.batch_files.append((path, cdcgen.write_batch(records, path)))
        # vacuum every 4 versions with no age floor, so reclaiming old
        # versions happens inside a run (the reference default of every
        # 25 versions and 768 h never fires in a run this short)
        self.catalog = Catalog(
            Settings(
                protocol="file",
                base_path=self.lake_dir,
                use_txlog=True,
                vacuum_every_n_versions=4,
                vacuum_retention_hours=0,
            )
        )
        self.ref = TableRef(str(Layer.CURATED), PROJECT, DATABASE, TABLE)
        self.curated = self.catalog.path(self.ref)
        schemas = cdcgen.reader_schemas()
        self.resolver = lambda role, sid: schemas[(role, sid)]
        self.warm_paths = [self.batch_files[0][0]]
        self.cycles: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def run(self, spark, seconds: float, traced: bool) -> None:
        self.spark = spark
        self.timed(seconds, traced)
        for c in self.cycles:
            log(f"cycle {c['index']} {c.get('freshness', 0):.3f}s, {c.get('cpu', 0):.2f} CPU s "
                + json.dumps({h: round(t, 3) for h, t in c["hops"].items()}))
        self.check()

    def _hook(self, spark, catalog, ref) -> None:
        maintenance.compact(spark, catalog, ref)
        maintenance.append_history_metrics(spark, catalog, ref, operation="MERGE")
        maintenance.generate_manifest(spark, catalog, ref)
        maintenance.vacuum_if_due(spark, catalog, ref)

    def cycle(self, traced: bool) -> dict:
        i = len(self.cycles)
        path, size = self.batch_files[i]
        self.tracer.active = traced
        self.attempted += 1
        rec = {"index": i, "traced": traced, "source_bytes": size,
               "changes": len(self.series.batches[i]), "hops": {}}
        tmp = os.path.join(self.source_dir, f".landing-{i}")
        shutil.copyfile(path, tmp)
        os.replace(tmp, os.path.join(self.source_dir, f"part-{i:05d}.parquet"))
        cpu0 = cpu_seconds()
        t_land = time.perf_counter()
        hops = (
            ("source_to_raw", lambda: pl.source_to_raw(
                self.spark.readStream.schema(cdcgen.KAFKA_SCHEMA).parquet(self.source_dir),
                self.catalog, PROJECT, DATABASE, TABLE,
            )),
            ("raw_to_staged", lambda: pl.raw_to_staged(
                self.spark, self.catalog, PROJECT, DATABASE, TABLE,
                registry=None, content_type="avro-python", schema_resolver=self.resolver,
            )),
            ("staged_to_curated", lambda: pl.staged_to_curated(
                self.spark, self.catalog, PROJECT, DATABASE, TABLE,
                key_cols=["id"], post_hooks=[self._hook],
            )),
        )
        try:
            with self.tracer.span("pipeline.cycle", index=i):
                for name, run in hops:
                    t = time.perf_counter()
                    with self.tracer.span(f"pipeline.{name}"):
                        run()
                    rec["hops"][name] = time.perf_counter() - t
                visible = txlog.latest_version(self.curated) == i
            rec["freshness"] = time.perf_counter() - t_land
            rec["cpu"] = cpu_seconds() - cpu0
        except Exception as exc:  # a failing batch is counted, not fatal
            visible = False
            self.problems.append(f"batch {i}: {type(exc).__name__}: {exc}"[:300])
        finally:
            self.tracer.active = False
        if not visible:
            self.failed += 1
            self.problems.append(f"batch {i}: curated version {i} not visible")
        self.cycles.append(rec)
        return rec

    def timed(self, seconds: float, traced: bool) -> None:
        """The bulk load, then incremental batches until ``seconds`` have
        gone by since it started (at least ``MIN_BATCHES``; in a traced
        run every other batch is traced, starting with a plain one)."""
        t_start = time.perf_counter()
        self.cycle(traced)
        self.before_incremental = _files(self.lake_dir)
        staged = self.catalog.path(TableRef(str(Layer.STAGED), PROJECT, DATABASE, TABLE))
        self.staged_files_after_bulk = sum(p.endswith(".parquet") for p in _files(staged))
        least = MIN_BATCHES + (1 if traced else 0)
        while len(self.cycles) < len(self.batch_files):
            n_inc = len(self.cycles) - 1
            if n_inc >= least and time.perf_counter() - t_start >= seconds:
                break
            self.cycle(traced and n_inc % 2 == 1)
        self.after_incremental = _files(self.lake_dir)

    def check(self) -> None:
        """Compare the curated snapshot with the generator's expected
        state and the history table with one row per merge and hook."""
        self.attempted += 1
        want = self.series.expected(len(self.cycles))
        try:
            df = txlog.read_versioned(self.spark, self.curated)
            got = summarize(df.columns, [tuple(r) for r in df.collect()])
            hist = self.spark.read.parquet(self.catalog.history_path(self.ref)).count()
            ok = (got["rows"], got["hash"]) == (want["rows"], want["hash"]) and hist == 2 * len(self.cycles)
            if not ok:
                self.problems.append(
                    f"curated rows {got['rows']} (want {want['rows']}), history {hist} "
                    f"(want {2 * len(self.cycles)}), hash match {got['hash'] == want['hash']}"
                )
        except Exception as exc:
            ok = False
            self.problems.append(f"final check: {type(exc).__name__}: {exc}"[:300])
        if not ok:
            self.failed += 1

    def lake_bytes(self) -> dict:
        """Bytes of files new in the incremental phase, per layer, and
        the source bytes landed in it."""
        root = self.lake_dir + os.sep
        per_layer = {"raw": 0, "staged": 0, "curated": 0, "control": 0}
        buckets = {v: k for k, v in self.catalog.settings.buckets.items()}
        for p, size in self.after_incremental.items():
            if p in self.before_incremental:
                continue
            layer = buckets.get(p[len(root):].split(os.sep, 1)[0], "control")
            per_layer[layer] += size
        landed = sum(c["source_bytes"] for c in self.cycles[1:])
        return {"per_layer": per_layer, "source": landed}

    def end_to_end(self) -> dict:
        """CPU and wall time of the bulk load and the first
        ``MIN_BATCHES`` batches, each from landing to its visible commit."""
        first = self.cycles[: 1 + MIN_BATCHES]
        return {"cpu_s": sum(c.get("cpu", float("nan")) for c in first),
                "wall_s": sum(c.get("freshness", float("nan")) for c in first)}

    def curated_space_amp(self) -> float:
        on_disk = sum(_files(self.curated).values())
        live = sum(os.path.getsize(p) for p in txlog.snapshot_files(self.curated))
        return on_disk / live
