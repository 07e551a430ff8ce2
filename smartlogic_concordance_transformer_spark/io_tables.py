"""Table IO: partitioned sink + per-partition checkpoint ledger + resume.

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
  - ``ParquetTableIO.write_bucket``: also ``fingerprint`` (an
    order-insensitive sum of per-row sha256 prefixes over the named
    columns — the lineage invariant) and ``duration_sec``;
  - ``StageMaterializer`` (``_ledger/stage=S.json``, one per cascade
    barrier): ``stage``, ``status``, ``rows`` from the parquet footers,
    the caller's input ``fingerprint`` and ``duration_sec``;
* resume = anti-join against the ledger: buckets with a ``done`` entry are
  pruned *before* the scan (partition pruning on the source side), matching
  Iceberg's manifest-level pruning.

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

    def entries(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.dir)):
            if name.endswith(".json") and not name.startswith("_"):
                with open(os.path.join(self.dir, name)) as f:
                    out.append(json.load(f))
        return out


def with_bucket(df: DataFrame, n_buckets: int, key: str = "repo") -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"))


class ParquetTableIO:
    """Iceberg-shaped writer over partitioned parquet + JSON ledger."""

    def __init__(self, root: str, n_buckets: int = 16):
        self.root = root
        self.n_buckets = n_buckets
        self.ledger = CheckpointLedger(root)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    @property
    def data_dir(self) -> str:
        return os.path.join(self.root, "data")

    def pending_buckets(self) -> list[int]:
        return sorted(set(range(self.n_buckets)) - self.ledger.done_buckets())

    def write_bucket(self, df: DataFrame, bucket: int, fingerprint_cols: list[str]) -> dict:
        """Write one bucket's rows + commit its ledger entry.

        The fingerprint is an order-insensitive sha256 over the named
        columns (xor-free: sum of per-row hashes mod 2^63 is cheap and
        stable) — the lineage invariant recorded per partition.
        """
        t0 = time.time()
        part = df.filter(F.col("bucket") == bucket)
        agg = part.select(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(
                F.sum(
                    F.conv(
                        F.substring(F.sha2(F.concat_ws("\x1f", *fingerprint_cols), 256), 1, 15),
                        16,
                        10,
                    ).cast("decimal(38,0)")
                ),
                F.lit(0),
            ).alias("fingerprint"),
        ).first()
        out = os.path.join(self.data_dir, f"bucket={bucket}")
        part.drop("bucket").write.mode("overwrite").parquet(out)
        entry = {
            "rows": int(agg["rows"]),
            "fingerprint": str(agg["fingerprint"]),
            "duration_sec": round(time.time() - t0, 3),
        }
        self.ledger.record(bucket, **entry)
        return entry

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.option("basePath", self.data_dir).parquet(
            os.path.join(self.data_dir, "bucket=*")
        )


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


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
    min_files: int = 2,
    shuffle: bool = False,
) -> dict:
    """Small-file compaction — the operational fix for the
    millions-of-tiny-files failure mode a long-running ingest leaves
    behind (every micro-batch / resumed bucket writes its own files;
    scan planning and footer reads eventually dominate). Rewrites the
    directory into ``ceil(rows / target_rows_per_file)`` files and
    SWAPS it in only after the rewrite's parquet footers account for
    exactly the original row count — the directory-level analog of a
    table format's compaction commit (Iceberg rewrites data files, then
    commits a snapshot; here the snapshot is a directory rename, and
    content is invariant so any CheckpointLedger fingerprints over the
    data stay valid).

    Returns ``{"compacted": bool, "files_before", "files_after",
    "rows"}``; a no-op (already few enough files, or fewer than
    ``min_files``) reports itself instead of rewriting.

    Scale notes: ``shuffle=False`` (default) uses ``coalesce`` — a
    NARROW merge of input splits, no exchange, the right shape when
    compacting many small files; ``shuffle=True`` round-robin
    repartitions for exactly even output files at the cost of one full
    shuffle of the table being compacted. Row-count verification is
    footer metadata only, no data scan."""
    import math
    import shutil

    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    rows = _parquet_footer_rows(path, spark)
    if target_rows_per_file <= 0:
        raise ValueError("target_rows_per_file must be positive")
    n_out = max(1, math.ceil(rows / target_rows_per_file))
    if len(files) < min_files or n_out >= len(files):
        return {
            "compacted": False,
            "files_before": len(files),
            "files_after": len(files),
            "rows": rows,
        }
    tmp, old = path + ".compact_tmp", path + ".compact_old"
    for d in (tmp, old):
        if os.path.exists(d):
            shutil.rmtree(d)
    df = spark.read.parquet(path)
    out = df.repartition(n_out) if shuffle else df.coalesce(n_out)
    out.write.mode("overwrite").parquet(tmp)
    got = _parquet_footer_rows(tmp, spark)
    if got != rows:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"compaction row mismatch under {path}: {got} != {rows}; "
            "original directory left untouched"
        )
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    n_after = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    return {
        "compacted": True,
        "files_before": len(files),
        "files_after": n_after,
        "rows": rows,
    }


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_col: str | list[str],
    n_buckets: int,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as an EXTERNAL bucket-co-located parquet table: rows
    are hash-bucketed on ``bucket_col`` into ``n_buckets`` files per
    task (optionally sorted within buckets), and the layout is recorded
    in the catalog so Catalyst KNOWS it. Two tables bucketed on the same
    key with the same bucket count join with ZERO Exchange — the shuffle
    both sides would pay per join is paid ONCE at write time, which is
    the economics every repeated 100 TB join wants (fact-to-fact joins,
    the daily incremental-dedup probe against the signature store, the
    assigned-corpus probe of incremental SemDeDup). With ``sort_col``
    the sort-merge join's per-task Sort drops too.

    External location (``path``) keeps the data out of the session
    warehouse — the table is a catalog ENTRY over explicit files, the
    same shape ``ParquetTableIO`` uses, so drops never delete data
    unexpectedly."""
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    cols = [bucket_col] if isinstance(bucket_col, str) else list(bucket_col)
    w = (
        df.write.mode(mode)
        .option("path", os.path.abspath(path))
        .bucketBy(n_buckets, cols[0], *cols[1:])
    )
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(name)


def read_bucketed(spark: SparkSession, name: str) -> DataFrame:
    """Read a table written by ``write_bucketed`` WITH its bucket
    metadata (a plain ``spark.read.parquet`` of the same files would
    lose the layout and re-shuffle on the next join)."""
    return spark.table(name)


def apply_changeset(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    check_unique: bool = True,
) -> DataFrame:
    """Batch SCD1 merge — the parquet-side equivalent of the Iceberg
    ``MERGE INTO ... WHEN MATCHED AND op='delete' THEN DELETE`` the
    tombstone rows target (`triples.py`; reference semantics
    ``service.go:321-333``): apply a changeset of upserts and deletes to a
    snapshot and return the next snapshot.

    Per key, the change with the greatest ``seq_col`` wins; a winning
    ``op='delete'`` removes the key, a winning ``op='upsert'`` replaces
    (or inserts) the row. Keys without changes pass through untouched.
    ``changes`` must carry ``base``'s columns plus (seq, op).

    Scale contract (the incremental-store shape shared with
    ``incremental_components`` and the dedup probes): the snapshot is
    NEVER shuffled — it is scanned once with a broadcast anti-join on the
    batch's key set; only the batch (daily-sized) pays the latest-wins
    window shuffle. Precondition: ``(key, seq)`` unique within the batch
    (otherwise "latest" is ambiguous); runtime-asserted by default, one
    count over the batch — disable with ``check_unique=False`` when the
    producer already guarantees it.
    """
    from pyspark.sql.window import Window

    ops = changes.select(op_col).distinct().collect()
    bad = {r[0] for r in ops} - {"upsert", "delete"}
    if bad:
        raise ValueError(f"unknown {op_col!r} values in changeset: {sorted(bad)}")
    if check_unique:
        n = changes.count()
        d = changes.select(*key_cols, seq_col).distinct().count()
        if n != d:
            raise ValueError(
                f"changeset has {n - d} duplicate ({key_cols}, {seq_col}) rows — "
                "latest-wins would be ambiguous"
            )
    w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    upserts = latest.filter(F.col(op_col) == "upsert").select(*base.columns)
    changed_keys = changes.select(*key_cols).distinct()
    untouched = base.join(F.broadcast(changed_keys), key_cols, "anti")
    return untouched.unionByName(upserts)


class ChangesetStore:
    """Durable keyed snapshot maintained by changesets — the batch/stream
    sink analog of the reference's Kafka-consumer update flow (each
    message upserts or tombstones one concordance; ``service.go``): the
    snapshot lives as parquet partitioned by ``kb = pmod(xxhash64(key),
    n_buckets)``, and each ``apply()`` rewrites ONLY the buckets the
    batch touches.

    Scale contract:

    * reading the affected slice is a partition-pruned scan (the ``kb``
      filter prunes at the source — never a full-store read);
    * the write uses dynamic partition overwrite, so concurrent-safe
      replay of the same changeset is a byte-identical no-op (upserts
      rewrite the same values, deletes find nothing) — idempotent under
      at-least-once delivery, same discipline as the streaming dedup
      sink's batch-id partitions;
    * a bucket whose every key is tombstoned produces no rows, which
      dynamic overwrite alone would leave stale — ``apply()`` clears such
      buckets explicitly (the local-fs analog of an Iceberg delete
      manifest).

    Wire into Structured Streaming with
    ``stream.writeStream.foreachBatch(lambda df, _id: store.apply(df))``.
    """

    def __init__(self, root: str, key_cols: list[str], n_buckets: int = 64):
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        self.root = root
        self.key_cols = list(key_cols)
        self.n_buckets = n_buckets

    def _kb(self) -> "F.Column":
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.key_cols]), F.lit(self.n_buckets)
        )

    def init(self, base: DataFrame) -> None:
        """Write the initial snapshot (overwrites any existing store)."""
        withkb = base.withColumn("kb", self._kb())
        withkb.write.mode("overwrite").partitionBy("kb").parquet(self.root)
        # persist the schema so a store whose every bucket was tombstoned
        # (zero parquet files on disk) still reads back as an empty frame
        with open(os.path.join(self.root, "_meta.json"), "w") as f:
            json.dump({"schema": withkb.schema.jsonValue()}, f)

    def _read_raw(self, spark: SparkSession) -> DataFrame:
        from pyspark.sql.types import StructType

        with open(os.path.join(self.root, "_meta.json")) as f:
            schema = StructType.fromJson(json.load(f)["schema"])
        return spark.read.schema(schema).parquet(self.root)

    def read(self, spark: SparkSession) -> DataFrame:
        return self._read_raw(spark).drop("kb")

    def apply(
        self,
        changes: DataFrame,
        seq_col: str = "seq",
        op_col: str = "op",
        check_unique: bool = True,
    ) -> list[int]:
        """Fold one changeset into the snapshot; returns the bucket ids
        rewritten. ``changes`` = snapshot columns + (seq, op)."""
        spark = changes.sparkSession
        ch = changes.withColumn("kb", self._kb()).localCheckpoint()
        affected = sorted(r[0] for r in ch.select("kb").distinct().collect())
        if not affected:
            return []
        base_slice = self._read_raw(spark).filter(F.col("kb").isin(affected))
        merged = apply_changeset(
            base_slice,
            ch,
            self.key_cols,
            seq_col=seq_col,
            op_col=op_col,
            check_unique=check_unique,
        )
        # merged keeps base_slice's columns (incl. kb, already correct for
        # pass-through rows; recompute for upserted/inserted rows)
        out = merged.withColumn("kb", self._kb()).localCheckpoint()
        nonempty = {r[0] for r in out.select("kb").distinct().collect()}
        out.write.mode("overwrite").partitionBy("kb").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(self.root)
        # dynamic overwrite can't clear a bucket that emitted zero rows
        import shutil

        for kb in affected:
            if kb not in nonempty:
                part = os.path.join(self.root, f"kb={kb}")
                if os.path.isdir(part):
                    shutil.rmtree(part)
        return affected


def zorder_key(x, y, bits: int = 21):
    """Morton (Z-order) key: interleave the low ``bits`` bits of two
    nonnegative integer columns — ``x`` on even bit positions, ``y`` on
    odd. Sorting by this single key clusters BOTH dimensions at once
    (Delta/Iceberg ``OPTIMIZE ZORDER BY``): any file/row-group then spans
    a narrow rectangle of (x, y) space, so min/max footer stats prune
    scans filtered on EITHER column — a plain sort clusters only its
    leading column. 21+21 bits stays inside the signed-64 range. A pure
    zero-shuffle integer fold; caller range-reduces (or
    ``pmod``/``floor``-buckets) values wider than ``bits`` bits first.
    """
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in [1, 31]")
    xc = (F.col(x) if isinstance(x, str) else x).cast("long")
    yc = (F.col(y) if isinstance(y, str) else y).cast("long")
    # bits is static, so the interleave unrolls to one flat codegen
    # expression (shift amounts must be Python ints for shiftleft/right)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(xc, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(yc, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    n_files: int = 16,
    bits: int = 21,
) -> None:
    """Rewrite a table clustered by the Morton key of (x, y):
    ``repartitionByRange`` on the key (one range exchange — contiguous
    z-ranges per output file) then a partition-local sort, so every file's
    (x, y) footer stats cover a narrow rectangle and predicate-pushdown
    scans on either column skip most files. The write itself carries no
    extra column — the key is computed, ranged on, and dropped."""
    keyed = df.withColumn("_z", zorder_key(x, y, bits))
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Diff two snapshots of a keyed table (two KG triple materializations,
    two curation outputs): returns one row per key whose state changed,
    with ``change`` in ('added', 'removed', 'changed'), old values under
    ``old_<col>`` and new values under ``new_<col>``. Identical rows drop
    out. Both frames must share a schema; keys must be unique per frame
    (violations surface as spurious 'changed' rows — callers with multiset
    semantics should pre-aggregate).

    Plan: ONE full-outer sort-merge join on the key columns — the scalable
    shape for a snapshot compare (hash-diffing via anti-joins would scan
    both sides twice). When both snapshots were written with
    ``write_bucketed`` on the same keys the join needs no exchange at all.
    Value comparison is null-safe (``<=>``), so a value flipping to/from
    NULL counts as changed.
    """
    if sorted(old.columns) != sorted(new.columns):
        raise ValueError(
            f"schema mismatch: {sorted(old.columns)} vs {sorted(new.columns)}"
        )
    missing = [k for k in keys if k not in old.columns]
    if missing:
        raise ValueError(f"key columns not in frames: {missing}")
    vals = [c for c in old.columns if c not in keys]
    o = old.select(
        *[F.col(k) for k in keys],
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"old_{c}") for c in vals],
    )
    n = new.select(
        *[F.col(k) for k in keys],
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"new_{c}") for c in vals],
    )
    j = o.join(n, keys, "full_outer")
    same = F.lit(True)
    for c in vals:
        same = same & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(~same, F.lit("changed"))
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            *keys,
            "change",
            *[f"old_{c}" for c in vals],
            *[f"new_{c}" for c in vals],
        )
    )


def diff_to_changeset(diff: DataFrame, keys: list[str], seq: int = 0) -> DataFrame:
    """Bridge ``snapshot_diff`` output into an ``apply_changeset`` /
    ``ChangesetStore.apply`` batch — the incremental-publish loop for a
    nightly KG rebuild: recompute the graph, DIFF against the published
    snapshot, and apply ONLY the delta (the store rewrite is sized by
    what changed, not by the corpus). 'removed' rows become
    ``op='delete'`` tombstones; 'added'/'changed' rows become upserts
    carrying the NEW values. All rows share one ``seq`` (a diff has at
    most one change per key by construction, so latest-wins ordering
    within the batch is moot — cross-batch ordering is the caller's
    ``seq``)."""
    vals = [c[len("new_"):] for c in diff.columns if c.startswith("new_")]
    return diff.select(
        *keys,
        *[F.col(f"new_{c}").alias(c) for c in vals],
        F.lit(int(seq)).alias("seq"),
        F.when(F.col("change") == "removed", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
