"""Per-layer tracing from outside the program.

The traced job calls the same public entry point as the untimed ones, with
the module functions ``run_pipeline`` calls swapped for wrappers that open
a span named after the layer and set a Spark job group of the same name,
so every Spark job the layer runs is attributable from the status store.
Spans are kept in memory and written out once, when the run ends.

Several module functions only build lazy plans; the work happens in the
write or collect that follows. Their spans are *sticky*: they stay open
until the next wrapped call starts, so they include the forcing action.
A non-sticky span closes on return, and time until the next span starts is
counted as uncovered.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import time
from collections import Counter

from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from smartlogic_concordance_transformer_spark import pipeline
from smartlogic_concordance_transformer_spark.io_tables import CheckpointLedger, with_bucket
from smartlogic_concordance_transformer_spark.transform import split_unified, transform_unified
from smartlogic_concordance_transformer_spark.triples import emit_triples

import harness
import workloads

GROUP_PREFIX = "perfbench:"
UNCOVERED = "uncovered"
FOLD = "transform.fold"

# output table -> (span, sticky) for the writes run_pipeline makes; the
# canonical table's write and its re-count belong to connected components
WRITE_SPANS = {
    "upp": ("io_tables.write_upp", False),
    "quarantine": ("io_tables.write_quarantine", False),
    "triples": ("io_tables.write_triples", False),
    "canonical_triples": ("cc", True),
}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.calls: Counter = Counter()
        self._open: dict | None = None
        self._t0 = time.perf_counter()

    def _now(self) -> float:
        return time.perf_counter() - self._t0

    def _close(self) -> None:
        if self._open is not None:
            self._open["end"] = self._now()
            self.spans.append(self._open)
            self._open = None

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(GROUP_PREFIX + name, name)

    def enter(self, name: str) -> None:
        self._close()
        self._open = {"name": name, "parent": "job", "start": self._now()}
        self.calls[name] += 1
        self.group(name)

    def leave(self, sticky: bool) -> None:
        if not sticky:
            self._close()
            self.group(UNCOVERED)

    def finish(self) -> None:
        self._close()
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.spark.sparkContext.setLocalProperty("spark.job.description", None)

    def wrap(self, fn, name: str, sticky: bool):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self.enter(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.leave(sticky)

        return traced

    def seconds(self) -> Counter:
        out: Counter = Counter()
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"]
        return out

    def stats(self, name: str) -> dict:
        return harness.stage_stats(self.spark, GROUP_PREFIX + name)

    @contextlib.contextmanager
    def job(self):
        """Root span around one whole job."""
        self._t0 = time.perf_counter()
        self.group(UNCOVERED)
        try:
            yield
        finally:
            self.finish()
            self.spans.append({"name": "job", "parent": None, "start": 0.0, "end": self._now()})

    def wall_s(self) -> float:
        root = next(s for s in self.spans if s["name"] == "job")
        return root["end"] - root["start"]

    def uncovered_s(self) -> float:
        covered = sum(s["end"] - s["start"] for s in self.spans if s["parent"] == "job")
        return self.wall_s() - covered


@contextlib.contextmanager
def patch_pipeline(tracer: Tracer):
    """Swap the module functions ``run_pipeline`` calls for traced wrappers."""
    names = {
        "transform_unified": ("transform", True),
        "split_unified": ("transform", True),
        "emit_triples": ("triples", True),
        "partition_metrics": ("metrics.aggregate", True),
        "canonical_triples": ("cc", True),
        "write_run_manifest": ("metrics.aggregate", False),
        "gtg_check": ("metrics.gtg", False),
    }
    saved = {n: getattr(pipeline, n) for n in names}
    saved_record = CheckpointLedger.record
    saved_parquet = DataFrameWriter.parquet

    def parquet(writer, path, *args, **kwargs):
        table = os.path.basename(os.path.normpath(path))
        name, sticky = WRITE_SPANS.get(table, (f"io_tables.write_{table}", False))
        return tracer.wrap(saved_parquet, name, sticky)(writer, path, *args, **kwargs)

    try:
        for n, (span, sticky) in names.items():
            setattr(pipeline, n, tracer.wrap(saved[n], span, sticky))
        CheckpointLedger.record = tracer.wrap(saved_record, "io_tables.ledger", False)
        DataFrameWriter.parquet = parquet
        yield
    finally:
        for n, fn in saved.items():
            setattr(pipeline, n, fn)
        CheckpointLedger.record = saved_record
        DataFrameWriter.parquet = saved_parquet


def parquet_files(root: str) -> tuple[int, int]:
    """(data files, bytes) of every parquet file under ``root``."""
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


# every per-layer metric, reported by each traced run; a layer that does
# not run on the workload reports 0
PER_LAYER_UNITS = {
    "transform.fold_s": "s",
    "transform.task_s": "s",
    "transform.docs_valid": "count",
    "transform.docs_quarantined": "count",
    "transform.shuffle_bytes": "bytes",
    "transform.failed_tasks": "count",
    "triples.concordsWith": "count",
    "triples.identifiesAs": "count",
    "io_tables.write_upp_s": "s",
    "io_tables.write_quarantine_s": "s",
    "io_tables.write_triples_s": "s",
    "io_tables.files_written": "count",
    "io_tables.bytes_written": "bytes",
    "io_tables.ledger_entries": "count",
    "io_tables.shuffle_bytes": "bytes",
    "io_tables.failed_tasks": "count",
    "metrics.aggregate_s": "s",
    "metrics.gtg_s": "s",
    "metrics.spark_jobs": "count",
    "metrics.shuffle_bytes": "bytes",
    "metrics.failed_tasks": "count",
    "cc.s": "s",
    "cc.task_s": "s",
    "cc.util": "ratio",
    "cc.spark_jobs": "count",
    "cc.shuffle_bytes": "bytes",
    "cc.failed_tasks": "count",
    "cc.edges_in": "count",
    "cc.edges_out": "count",
    "curation.plan_s": "s",
    "curation.exec_s": "s",
    "curation.spark_jobs": "count",
    "curation.shuffle_bytes": "bytes",
    "curation.failed_tasks": "count",
    "curation.rows_in": "count",
    "curation.kept": "count",
    "trace.job_s": "s",
    "trace.overhead_s": "s",
    "trace.uncovered_s": "s",
    "baseline.local1_job_s": "s",
}


def _sum_stats(tracer: Tracer, names) -> dict:
    out = Counter()
    for n in names:
        out.update(tracer.stats(n))
    return out


def _fold(spark, wl, tracer: Tracer) -> float:
    """The transform fold alone: transform_unified + emit_triples forced by
    a noop write, nothing persisted or written."""
    tracer.group(FOLD)
    t0 = time.perf_counter()
    src = with_bucket(spark.read.parquet(wl.src), workloads.N_BUCKETS)
    good, _ = split_unified(transform_unified(src, carry=("bucket",)), carry=("bucket",))
    emit_triples(good, carry=("bucket",)).write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    tracer.finish()
    return elapsed


def _traced_kg(spark, wl, out: str, tracer: Tracer, cores: int) -> tuple[dict, list[str]]:
    with patch_pipeline(tracer), tracer.job():
        manifest = wl.job(spark, out)
    errors = wl.check(spark, out, manifest)
    secs = tracer.seconds()
    totals = manifest.get("totals", {})
    files, nbytes = parquet_files(out)
    io = _sum_stats(tracer, [n for n in tracer.calls if n.startswith("io_tables.")])
    met = _sum_stats(tracer, ["metrics.aggregate", "metrics.gtg"])
    cc = tracer.stats("cc")
    m = {
        "transform.docs_valid": totals.get("docs_valid", 0),
        "transform.docs_quarantined": sum(totals.get(f"docs_{s}", 0) for s in workloads.QUARANTINE_STATUSES),
        "triples.concordsWith": totals.get("triples_concordsWith", 0),
        "triples.identifiesAs": totals.get("triples_identifiesAs", 0),
        "io_tables.write_upp_s": secs["io_tables.write_upp"],
        "io_tables.write_quarantine_s": secs["io_tables.write_quarantine"],
        "io_tables.write_triples_s": secs["io_tables.write_triples"],
        "io_tables.files_written": files,
        "io_tables.bytes_written": nbytes,
        "io_tables.ledger_entries": tracer.calls["io_tables.ledger"],
        "io_tables.shuffle_bytes": io["shuffle_bytes"],
        "io_tables.failed_tasks": io["failed_tasks"],
        "metrics.aggregate_s": secs["metrics.aggregate"],
        "metrics.gtg_s": secs["metrics.gtg"],
        "metrics.spark_jobs": met["spark_jobs"],
        "metrics.shuffle_bytes": met["shuffle_bytes"],
        "metrics.failed_tasks": met["failed_tasks"],
        "cc.s": secs["cc"],
        "cc.task_s": cc["task_s"],
        "cc.util": cc["task_s"] / (secs["cc"] * cores),
        "cc.spark_jobs": cc["spark_jobs"],
        "cc.shuffle_bytes": cc["shuffle_bytes"],
        "cc.failed_tasks": cc["failed_tasks"],
        "cc.edges_in": spark.read.parquet(os.path.join(out, "triples"))
        .filter((F.col("pred") == "concordsWith") & (F.col("op") == "upsert"))
        .count(),
        "cc.edges_out": manifest.get("canonical_edges", 0),
    }
    m["transform.fold_s"] = _fold(spark, wl, tracer)
    fold = tracer.stats(FOLD)
    m["transform.task_s"] = fold["task_s"]
    m["transform.shuffle_bytes"] = fold["shuffle_bytes"]
    m["transform.failed_tasks"] = fold["failed_tasks"]
    return m, errors


def _traced_cascade(spark, wl, out: str, tracer: Tracer) -> tuple[dict, list[str]]:
    with tracer.job():
        tracer.enter("curation.plan")
        df = wl.query(spark)
        df._jdf.queryExecution().executedPlan()
        tracer.enter("curation.exec")
        rows = df.collect()
        tracer.leave(False)
    errors = wl.check(spark, out, rows)
    secs = tracer.seconds()
    cur = _sum_stats(tracer, ["curation.plan", "curation.exec"])
    return {
        "curation.plan_s": secs["curation.plan"],
        "curation.exec_s": secs["curation.exec"],
        "curation.spark_jobs": cur["spark_jobs"],
        "curation.shuffle_bytes": cur["shuffle_bytes"],
        "curation.failed_tasks": cur["failed_tasks"],
        "curation.rows_in": wl.docs,
        "curation.kept": sum(1 for r in rows if r["kept"]),
    }, errors


def traced_run(spark, wl, work: str, cores: int) -> dict:
    """One traced job: per-layer metrics, spans and per-layer Spark stats."""
    tracer = Tracer(spark)
    out = os.path.join(work, "out", "traced")
    try:
        if isinstance(wl, workloads.CascadeWorkload):
            m, errors = _traced_cascade(spark, wl, out, tracer)
        else:
            m, errors = _traced_kg(spark, wl, out, tracer, cores)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    m["trace.job_s"] = tracer.wall_s()
    m["trace.uncovered_s"] = tracer.uncovered_s()
    return {
        "metrics": m,
        "errors": errors,
        "spans": tracer.spans,
        "spark": {n: tracer.stats(n) for n in [*tracer.calls, UNCOVERED, FOLD]},
    }


def write_trace(root: str, workload: str, seed: int, payload: dict) -> str:
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{workload}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, default=float)
    return path
