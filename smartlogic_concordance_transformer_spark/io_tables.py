"""Table IO: per-bucket checkpoint ledger + resume, and the cascade's
durable-barrier hook.

Design target is an Iceberg catalog (`df.writeTo(...).append()`, MERGE INTO
for tombstones, partition-manifest pruning for resume). The sandbox has no
Iceberg runtime jar, so the same semantics are implemented over partitioned
Parquet behind one interface:

* tables are directories with ``bucket=K`` Hive-style partitions
  (``bucket = pmod(xxhash64(repo), n_buckets)`` — the resume grain);
* each completed bucket gets a ledger entry ``_ledger/bucket=K.json``,
  written only after the bucket's data commit, so a crash leaves at worst
  an orphaned data dir that resume overwrites. What an entry holds
  depends on its writer:

  - ``pipeline.run_pipeline``: ``bucket``, ``status`` and ``rows`` (the
    bucket's triple count, from the run metrics);
  - ``StageMaterializer`` (``_ledger/stage=S.json``, one per cascade
    barrier): ``stage``, ``status``, ``rows`` from the parquet footers,
    the caller's input ``fingerprint`` and ``duration_sec``;
* resume = anti-join against the ledger: buckets with a ``done`` entry are
  pruned *before* the scan (partition pruning on the source side), matching
  Iceberg's manifest-level pruning.

Commit record: the bucketed tables (``upp``, ``quarantine``, ``triples``)
are written with dynamic partition overwrite, which leaves no ``_SUCCESS``
marker, and a table with no rows is an empty directory. For them the
per-bucket ledger entry plus the run manifest's GTG section is the commit
record; ``_SUCCESS`` is not.

On a real deployment swap these parquet writers for an Iceberg writer —
the pipeline only touches ``with_bucket`` and ``CheckpointLedger``.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointLedger:
    def __init__(self, root: str, n_buckets: int | None = None):
        self.dir = os.path.join(root, "_ledger")
        os.makedirs(self.dir, exist_ok=True)
        meta_path = os.path.join(self.dir, "_meta.json")
        if n_buckets is not None:
            if os.path.exists(meta_path):
                with open(meta_path) as f:
                    prior = json.load(f).get("n_buckets")
                if prior != n_buckets:
                    raise ValueError(
                        f"ledger at {root} was written with n_buckets={prior}; "
                        f"resume requested n_buckets={n_buckets} — bucket "
                        "assignment would change and the ledger would lie"
                    )
            else:
                with open(meta_path, "w") as f:
                    json.dump({"n_buckets": n_buckets}, f)

    def meta_n_buckets(self) -> int | None:
        """n_buckets the ledger was created with (None for pre-meta
        ledgers) — the authoritative bucket count for completeness checks."""
        meta_path = os.path.join(self.dir, "_meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                return json.load(f).get("n_buckets")
        return None

    def done_buckets(self) -> set[int]:
        done = set()
        for name in os.listdir(self.dir):
            if not name.endswith(".json") or name.startswith("_"):
                continue
            with open(os.path.join(self.dir, name)) as f:
                entry = json.load(f)
            if entry.get("status") == "done":
                done.add(int(entry["bucket"]))
        return done

    def record(self, bucket: int, **fields) -> None:
        entry = {"bucket": bucket, "status": "done", **fields}
        path = os.path.join(self.dir, f"bucket={bucket}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entry, f, sort_keys=True)
        os.replace(tmp, path)  # atomic commit of the ledger entry


def with_bucket(df: DataFrame, n_buckets: int, key: str = "repo") -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"))


class StageLedger:
    """String-keyed sibling of ``CheckpointLedger`` for NAMED pipeline
    stages (the curation cascade's barriers) — same atomic
    write-data-then-commit-entry protocol, stage name as the key."""

    def __init__(self, root: str):
        self.dir = os.path.join(root, "_ledger")
        os.makedirs(self.dir, exist_ok=True)

    def done_stages(self) -> set[str]:
        done = set()
        for name in os.listdir(self.dir):
            if not name.endswith(".json") or name.startswith("_"):
                continue
            with open(os.path.join(self.dir, name)) as f:
                entry = json.load(f)
            # entries without a 'stage' key are not ours (e.g. a
            # CheckpointLedger bucket entry sharing the root) — ignore
            # rather than crash resume with an opaque KeyError
            if entry.get("status") == "done" and entry.get("stage") is not None:
                done.add(entry["stage"])
        return done

    def record(self, stage: str, **fields) -> None:
        entry = {"stage": stage, "status": "done", **fields}
        path = os.path.join(self.dir, f"stage={stage}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entry, f, sort_keys=True)
        os.replace(tmp, path)  # atomic commit of the ledger entry

    def entries(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.dir)):
            if name.endswith(".json") and not name.startswith("_"):
                with open(os.path.join(self.dir, name)) as f:
                    out.append(json.load(f))
        return out


class StageMaterializer:
    """The ``materialize=`` hook for ``pretraining_pipeline``: persist
    each barrier frame as a parquet table under ``root/<stage>`` with a
    ledger entry committed AFTER the data write (crash leaves at worst an
    orphaned data dir that a rerun overwrites — the CheckpointLedger
    protocol at stage grain).

    A rerun over the same root REUSES every stage whose ledger entry is
    ``done`` — the pipeline resumes from the first unpersisted stage
    instead of recomputing the cascade from the raw corpus.

    ``fingerprint``: a caller-supplied digest of the run's inputs and
    parameters (any stable string — e.g. sha256 over the corpus path +
    the pipeline kwargs). It is recorded in every ledger entry, and
    resume REFUSES a stage whose recorded fingerprint differs from this
    run's — silently reusing stages persisted under different params or
    a different corpus would return wrong results with no signal. With
    ``fingerprint=None`` (default) only None-stamped entries are reused,
    so a fingerprinted root is never consumed by an unfingerprinted run
    either.

    ``reused``/``computed`` record which path each stage took — test and
    observability hooks, not control flow. At 100 TB these parquet dirs
    ARE the intermediate tables the module docstring promises (swap the
    write for an Iceberg writer on a real deployment)."""

    def __init__(self, spark: SparkSession, root: str, fingerprint: str | None = None):
        self.spark = spark
        self.root = root
        self.fingerprint = fingerprint
        self.ledger = StageLedger(root)
        self.reused: list[str] = []
        self.computed: list[str] = []

    def __call__(self, df: DataFrame, stage: str) -> DataFrame:
        path = os.path.join(self.root, stage)
        if stage in self.ledger.done_stages():
            prior = next(
                (
                    e.get("fingerprint")
                    for e in self.ledger.entries()
                    if e.get("stage") == stage
                ),
                None,
            )
            if prior != self.fingerprint:
                raise ValueError(
                    f"StageMaterializer: stage {stage!r} at {self.root} was "
                    f"persisted with fingerprint {prior!r} but this run's is "
                    f"{self.fingerprint!r} — the input corpus or pipeline "
                    "params changed; point the run at a fresh root (or delete "
                    "the stale stage dir + ledger entry)"
                )
            self.reused.append(stage)
            return self.spark.read.parquet(path)
        t0 = time.time()
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        # row count from the written parquet FOOTERS — pure driver-side
        # metadata, no second scan of the persisted stage (at 100 TB a
        # post-write count() would re-read every stage table once)
        rows = _parquet_footer_rows(path, self.spark)
        self.ledger.record(
            stage,
            rows=rows,
            fingerprint=self.fingerprint,
            duration_sec=round(time.time() - t0, 3),
        )
        self.computed.append(stage)
        return out


def _parquet_footer_rows(path: str, spark: SparkSession | None = None) -> int:
    """Sum of row counts from the parquet file footers under ``path`` —
    metadata reads only, no data scan. The fast path lists the LOCAL
    filesystem; for a non-local root (hdfs://, s3a://) it falls back to
    a Spark count over the freshly written table — one extra scan there,
    but never a crash after the expensive stage write already succeeded
    (which would also lose the ledger entry and the stage's resumability).
    The fallback also catches pyarrow's own ArrowInvalid — what
    ``read_metadata`` actually raises on a truncated/corrupt footer, the
    very post-write path the fallback exists for (OSError alone would
    have let it crash)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        return sum(
            pq.read_metadata(os.path.join(path, name)).num_rows
            for name in os.listdir(path)
            if name.endswith(".parquet")
        )
    except (OSError, pa.lib.ArrowInvalid):
        if spark is None:
            raise
        return spark.read.parquet(path).count()

