"""Per-partition lineage + metrics (north rule: 'checkpoint-resumable per
partition with lineage + triple-count metrics logged per partition').

One aggregation computes everything per bucket: doc counts by status and
op, triple counts by predicate, and the input count; the run manifest is
dumped as JSON next to the ledger. Structured, machine-readable, cheap
(single shuffle). The GTG reconciliation re-reads the three durable tables
in one more aggregation."""

from __future__ import annotations

import functools
import json
import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F


def partition_metrics(
    good: DataFrame,
    quarantine: DataFrame,
    triples: DataFrame,
    unified: DataFrame | None = None,
) -> DataFrame:
    """Per-bucket metric rows: (bucket, metric, value), one row per
    non-empty count: docs_valid, docs_<op>, docs_<status> of the
    quarantined, triples_<pred>. When the op-typed ``unified`` frame is
    supplied, a ``docs_in`` row per bucket records the input row count —
    the anchor for the GTG reconciliation (docs_in = docs_valid +
    quarantined).

    Each input is projected to tagged ``(bucket, metric)`` rows and the
    union is counted by ONE ``groupBy``: one shuffle, however many
    metrics there are."""
    tagged = [
        good.select(
            "bucket",
            F.explode(F.array(F.lit("docs_valid"), F.concat(F.lit("docs_"), "op"))).alias("metric"),
        ),
        quarantine.select("bucket", F.concat(F.lit("docs_"), "status").alias("metric")),
        triples.select("bucket", F.concat(F.lit("triples_"), "pred").alias("metric")),
    ]
    if unified is not None:
        tagged.append(unified.select("bucket", F.lit("docs_in").alias("metric")))
    return functools.reduce(DataFrame.unionByName, tagged).groupBy("bucket", "metric").agg(
        F.count("*").alias("value")
    )


_QUAR_STATUSES = ("SyntacticallyIncorrect", "SemanticallyIncorrect")
_TABLES = ("upp", "quarantine", "triples")


def _bucket_counts(scans: dict[str, DataFrame]) -> dict[str, dict[int, int]]:
    """Per-table per-bucket row counts of tagged scans: one union counted
    by ``groupBy(table, bucket)``, so one shuffle however many tables."""
    union = functools.reduce(
        DataFrame.unionByName,
        [df.select(F.lit(t).alias("table"), "bucket") for t, df in scans.items()],
    )
    counts: dict[str, dict[int, int]] = {t: {} for t in scans}
    for r in union.groupBy("table", "bucket").count().collect():
        counts[r["table"]][int(r["bucket"])] = r["count"]
    return counts


def _durable_counts(
    spark: SparkSession, root: str
) -> tuple[dict[str, dict[int, int]], dict[str, str]]:
    """(per-table per-bucket row counts, error per unreadable table) of the
    three durable tables.

    The healthy path counts all three in one aggregation. Only when it
    fails are the tables counted one at a time, so the failure is
    attributed to its table: a corrupt footer, a permission error or a
    missing ``bucket`` value reads as unreadable, never as correctly
    empty."""
    counts: dict[str, dict[int, int]] = {t: {} for t in _TABLES}
    errors: dict[str, str] = {}
    scans = {}
    for t in _TABLES:
        try:
            # a known schema needs no inference job, and a directory with
            # no data file (nothing to write) reads as an empty frame
            scans[t] = spark.read.schema("bucket int").parquet(os.path.join(root, t))
        except AnalysisException:  # path missing = nothing written
            pass
        except Exception as e:  # unlistable is NOT the same as empty
            errors[t] = f"{type(e).__name__}: {e}"
    if not scans:
        return counts, errors
    try:
        counts.update(_bucket_counts(scans))
        return counts, errors
    except Exception:
        pass
    for t, df in scans.items():
        try:
            counts.update(_bucket_counts({t: df}))
        except Exception as e:
            errors[t] = f"{type(e).__name__}: {e}"
    return counts, errors


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

    actual, unreadable = _durable_counts(spark, root)
    for table, err in unreadable.items():
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
