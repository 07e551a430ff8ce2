"""Per-partition lineage + metrics (north rule: 'checkpoint-resumable per
partition with lineage + triple-count metrics logged per partition').

One aggregation computes everything per bucket: doc counts by status,
triple counts by predicate/op, and the run manifest is dumped as JSON next
to the ledger. Structured, machine-readable, cheap (single shuffle)."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F


def partition_metrics(
    good: DataFrame,
    quarantine: DataFrame,
    triples: DataFrame,
    unified: DataFrame | None = None,
) -> DataFrame:
    """Per-bucket metric rows: (bucket, metric, value). When the op-typed
    ``unified`` frame is supplied, a ``docs_in`` row per bucket records the
    input row count — the anchor for the GTG reconciliation
    (docs_in = docs_valid + quarantined)."""
    doc_ok = good.groupBy("bucket").agg(F.count("*").alias("value")).select(
        "bucket", F.lit("docs_valid").alias("metric"), "value"
    )
    doc_ops = good.groupBy("bucket", "op").agg(F.count("*").alias("value")).select(
        "bucket", F.concat(F.lit("docs_"), F.col("op")).alias("metric"), "value"
    )
    doc_bad = quarantine.groupBy("bucket", "status").agg(F.count("*").alias("value")).select(
        "bucket", F.concat(F.lit("docs_"), F.col("status")).alias("metric"), "value"
    )
    trip = triples.groupBy("bucket", "pred").agg(F.count("*").alias("value")).select(
        "bucket", F.concat(F.lit("triples_"), F.col("pred")).alias("metric"), "value"
    )
    out = doc_ok.unionByName(doc_ops).unionByName(doc_bad).unionByName(trip)
    if unified is not None:
        docs_in = unified.groupBy("bucket").agg(F.count("*").alias("value")).select(
            "bucket", F.lit("docs_in").alias("metric"), "value"
        )
        out = out.unionByName(docs_in)
    return out


_QUAR_STATUSES = ("SyntacticallyIncorrect", "SemanticallyIncorrect")


def _read_bucket_counts(
    spark: SparkSession, path: str
) -> tuple[dict[int, int], str | None]:
    """(per-bucket counts, error). A missing/empty table path (the normal
    nothing-written-yet case, surfaced by Spark as AnalysisException on
    schema inference) reads as empty counts; any OTHER failure — corrupt
    footer, permission error, bad schema — is returned as an error string
    so the GTG check can flag the table as unreadable instead of silently
    treating it as correctly-empty."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
    except AnalysisException:  # path missing / no footers = nothing written
        return {}, None
    except Exception as e:  # corrupt/unreadable is NOT the same as empty
        return {}, f"{type(e).__name__}: {e}"
    try:
        # separate scope: an AnalysisException HERE is schema drift (e.g.
        # no `bucket` column), which must read as unreadable, not empty
        counts = {
            int(r["bucket"]): int(r["n"])
            for r in df.groupBy("bucket").agg(F.count("*").alias("n")).collect()
        }
    except Exception as e:
        return {}, f"{type(e).__name__}: {e}"
    return counts, None


def gtg_check(
    spark: SparkSession, root: str, n_buckets: int | None = None, write: bool = False
) -> dict:
    """Job-level good-to-go: the batch analog of the reference's /__gtg
    healthcheck (/root/reference/smartlogic/healthcheck.go:1-147 probes
    live dependencies; a batch job instead proves the *run* is sound).

    Three reconciliations against ``run_manifest.json``:

    1. ledger completeness — every bucket 0..n-1 has a 'done' entry;
    2. count conservation — per bucket, docs_in = docs_valid + quarantined
       (no row silently dropped between parse and the split);
    3. durability — the written upp/quarantine/triples parquet re-read to
       exactly the per-bucket counts the manifest claims.

    Returns the manifest with a ``gtg`` section; ``write=True`` persists it
    back so an orchestrator can gate on ``manifest['gtg']['ok']``.
    """
    from .io_tables import CheckpointLedger

    manifest_path = os.path.join(root, "run_manifest.json")
    with open(manifest_path) as f:
        manifest = json.load(f)
    per_bucket: dict[str, dict[str, int]] = manifest.get("per_bucket", {})

    mismatches: list[dict] = []

    ledger = CheckpointLedger(root)
    done = ledger.done_buckets()
    if n_buckets is None:
        # the ledger meta is authoritative — inferring from max(done)+1
        # would hide TRAILING buckets that never got a ledger entry
        n_buckets = ledger.meta_n_buckets()
        if n_buckets is None:
            n_buckets = (max(done) + 1) if done else 0
    missing_ledger = sorted(set(range(n_buckets)) - done)

    actual: dict[str, dict[int, int]] = {}
    unreadable: set[str] = set()
    for table in ("upp", "quarantine", "triples"):
        counts, err = _read_bucket_counts(spark, os.path.join(root, table))
        actual[table] = counts
        if err is not None:
            unreadable.add(table)
            mismatches.append({"table": table, "check": "table_unreadable", "error": err})
    for b_str, metrics in sorted(per_bucket.items(), key=lambda kv: int(kv[0])):
        b = int(b_str)
        n_valid = metrics.get("docs_valid", 0)
        n_quar = sum(metrics.get(f"docs_{s}", 0) for s in _QUAR_STATUSES)
        n_triples = sum(v for m, v in metrics.items() if m.startswith("triples_"))
        if "docs_in" in metrics and metrics["docs_in"] != n_valid + n_quar:
            mismatches.append(
                {"bucket": b, "check": "docs_in=valid+quarantined",
                 "expected": metrics["docs_in"], "actual": n_valid + n_quar}
            )
        for table, expected in (
            ("upp", n_valid), ("quarantine", n_quar), ("triples", n_triples)
        ):
            if table in unreadable:
                continue  # already flagged whole-table; per-bucket 0s are noise
            got = actual[table].get(b, 0)
            if got != expected:
                mismatches.append(
                    {"bucket": b, "check": f"{table}_durable",
                     "expected": expected, "actual": got}
                )

    gtg = {
        "ok": not mismatches and not missing_ledger,
        "ledger_complete": not missing_ledger,
        "missing_ledger": missing_ledger,
        "mismatches": mismatches,
    }
    manifest["gtg"] = gtg
    if write:
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        os.replace(tmp, manifest_path)
    return manifest


def write_run_manifest(root: str, rows: list[Row], extra: dict | None = None) -> dict:
    """Write ``run_manifest.json`` from collected ``partition_metrics`` rows."""
    # Merge with a prior manifest so a resume run (which only recomputes
    # pending buckets) updates those buckets in place instead of clobbering
    # the full-run lineage.
    per_bucket: dict[str, dict[str, int]] = {}
    prior_path = os.path.join(root, "run_manifest.json")
    if os.path.exists(prior_path):
        with open(prior_path) as f:
            per_bucket = json.load(f).get("per_bucket", {})
    touched = {str(r["bucket"]) for r in rows}
    for b in touched:
        per_bucket[b] = {}
    for r in rows:
        per_bucket[str(r["bucket"])][r["metric"]] = int(r["value"])
    totals: dict[str, int] = {}
    for metrics in per_bucket.values():
        for m, v in metrics.items():
            totals[m] = totals.get(m, 0) + v
    manifest = {
        "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "totals": totals,
        "per_bucket": per_bucket,
        "touched_buckets": sorted(touched, key=int),
        **(extra or {}),
    }
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, "run_manifest.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    os.replace(tmp, path)
    return manifest
