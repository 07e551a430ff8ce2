"""End-to-end batch job: source table -> graph tables, resumable.

    read source (only pending buckets — partition-pruned)
      -> parse (pandas UDF) -> validate/derive/assemble (native exprs)
      -> rebalance by bucket (one exchange), persisted
      -> upp + quarantine + triples, written with one file per bucket
      -> per-partition metrics (one aggregation) -> ledger commit per bucket
      -> optional connected-components canonicalization over the full edge set
      -> run manifest + GTG (one aggregation re-reads the three tables)

Resume: ledger-done buckets are excluded from the *scan* (predicate on the
bucket expression pushes to the parquet reader / Iceberg manifest), so a
re-run after a kill only pays for unfinished partitions.

Commit record: the three bucketed tables are written with dynamic
partition overwrite, so they carry no ``_SUCCESS`` marker, and a table
with no rows is an empty directory. The per-bucket ledger entry plus the
manifest's GTG section is their commit record; ``_SUCCESS`` is not.
"""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .cc import canonical_triples
from .io_tables import CheckpointLedger, with_bucket
from .metrics import gtg_check, partition_metrics, write_run_manifest
from .transform import split_unified, transform_unified
from .triples import emit_triples


def run_pipeline(
    spark: SparkSession,
    source: DataFrame,
    out_root: str,
    n_buckets: int = 16,
    run_cc: bool = True,
) -> dict:
    os.makedirs(out_root, exist_ok=True)
    ledger = CheckpointLedger(out_root, n_buckets=n_buckets)
    done = ledger.done_buckets()

    src = with_bucket(source, n_buckets)
    if done:
        # Resume: prune completed partitions before any work happens.
        src = src.filter(~F.col("bucket").isin(*sorted(done)))

    # ONE op-typed frame, persisted before the three-sink fan-out: the
    # parse UDF and the source scan run exactly once per run — an
    # unpersisted fan-out would re-run both once per sink (3x at 100 TB).
    # The rebalance on bucket (after the UDF, in the scan stage) gives each
    # write task whole buckets, so a dynamic-partition write makes one file
    # per bucket instead of one per (scan task, bucket); at scale AQE splits
    # a hot bucket to the advisory partition size.
    unified = transform_unified(src, carry=("bucket",)).hint("rebalance", "bucket").persist()
    try:
        good, quarantine = split_unified(unified, carry=("bucket",))
        triples = emit_triples(good, carry=("bucket",))

        # dynamic overwrite replaces only the buckets this run writes, so the
        # done buckets a resume skipped stay; set per write, not on the session
        for name, df in (("upp", good), ("quarantine", quarantine), ("triples", triples)):
            df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
                "bucket"
            ).parquet(os.path.join(out_root, name))

        # One collect: a few rows per bucket, from which the ledger counts and
        # the manifest are both derived.
        metrics_rows = partition_metrics(good, quarantine, triples, unified=unified).collect()
    finally:
        # the metrics are the cache's last reader; a failed write or
        # aggregation must not leave it in the caller's session either
        unified.unpersist()

    # Ledger commit per bucket, after data is durable.
    written = {int(r["bucket"]) for r in metrics_rows}
    bucket_rows: Counter = Counter()
    for r in metrics_rows:
        if r["metric"].startswith("triples_"):
            bucket_rows[int(r["bucket"])] += int(r["value"])
    for b in sorted(written - done):
        ledger.record(b, rows=bucket_rows[b])
    # Buckets with zero surviving docs still need a ledger mark.
    for b in sorted(set(range(n_buckets)) - done - written):
        ledger.record(b, rows=0)

    extra = {}
    if run_cc:
        # the full edge set, not just this run's buckets; the written
        # frame's schema spares a schema-inference job
        edges = (
            spark.read.schema(triples.schema)
            .parquet(os.path.join(out_root, "triples"))
            .filter((F.col("pred") == "concordsWith") & (F.col("op") == "upsert"))
        )
        # the count arrives with the write: no re-read of the output
        canon_rows = Observation("canonical_triples")
        canon = canonical_triples(edges).observe(canon_rows, F.count(F.lit(1)).alias("rows"))
        canon.write.mode("overwrite").parquet(os.path.join(out_root, "canonical_triples"))
        extra["canonical_edges"] = canon_rows.get["rows"]

    manifest = write_run_manifest(out_root, metrics_rows, extra=extra)

    # GTG: the batch analog of the reference healthcheck/__gtg surface
    # (smartlogic/healthcheck.go:1-147) — instead of probing live
    # dependencies, reconcile the run: ledger complete, docs in = valid +
    # quarantined, and the durable outputs re-read to the counts the job
    # claims. Written into the manifest so an orchestrator can gate on it.
    manifest = gtg_check(spark, out_root, n_buckets=n_buckets, write=True)
    return manifest
