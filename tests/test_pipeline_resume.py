"""End-to-end pipeline + checkpoint/resume semantics over the synthetic
source generator."""

import os
import shutil
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from smartlogic_concordance_transformer_spark import pipeline
from smartlogic_concordance_transformer_spark.gen import generate_source_repos
from smartlogic_concordance_transformer_spark.io_tables import CheckpointLedger
from smartlogic_concordance_transformer_spark.metrics import gtg_check
from smartlogic_concordance_transformer_spark.pipeline import run_pipeline
from smartlogic_concordance_transformer_spark.transform import transform

N_DOCS = 1500
N_BUCKETS = 8


def _triples_set(spark, root):
    return {
        (r.subj, r.pred, r.obj, r.op)
        for r in spark.read.parquet(os.path.join(root, "triples")).collect()
    }


def test_generator_is_deterministic(spark):
    a = generate_source_repos(spark, 200, seed=5).orderBy("path").collect()
    b = generate_source_repos(spark, 200, seed=5).orderBy("path").collect()
    assert a == b
    c = generate_source_repos(spark, 200, seed=6).orderBy("path").collect()
    assert a != c


def test_generator_covers_all_scenarios(spark):
    src = generate_source_repos(spark, 2000, seed=11)
    from smartlogic_concordance_transformer_spark.transform import transform

    good, quar = transform(src)
    statuses = {r.status for r in quar.select("status").distinct().collect()}
    assert statuses == {"SyntacticallyIncorrect", "SemanticallyIncorrect"}
    ops = {r.op for r in good.select("op").distinct().collect()}
    assert ops == {"upsert", "delete"}
    errors = " | ".join(r.error for r in quar.select("error").distinct().collect())
    for marker in (
        "duplicate TME id values",
        "is not a valid TME Id",
        "Type has not been set",
        "concept type not allowed",
        "More than 1 concept",
        "does not support concordance",
        "Missing/invalid @graph field",
        "invalid json",
    ):
        assert marker in errors, marker


def test_pipeline_run_and_resume(spark, tmp_path):
    out = str(tmp_path / "kg")
    src = generate_source_repos(spark, N_DOCS, seed=7)
    m1 = run_pipeline(spark, src, out, n_buckets=N_BUCKETS)
    assert set(CheckpointLedger(out).done_buckets()) == set(range(N_BUCKETS))
    baseline = _triples_set(spark, out)
    assert baseline
    assert m1["totals"].get("docs_valid", 0) > 0
    assert m1["totals"].get("docs_SyntacticallyIncorrect", 0) > 0
    assert os.path.exists(os.path.join(out, "run_manifest.json"))

    # Kill-simulation: drop two buckets' ledger entries; resume must
    # recompute exactly those and leave the final table identical.
    for b in (1, 4):
        os.remove(os.path.join(out, "_ledger", f"bucket={b}.json"))
    m2 = run_pipeline(spark, src, out, n_buckets=N_BUCKETS)
    assert set(CheckpointLedger(out).done_buckets()) == set(range(N_BUCKETS))
    assert _triples_set(spark, out) == baseline
    # resume run only touched the two pending buckets, and the merged
    # manifest still carries the full-run totals
    assert {int(b) for b in m2["touched_buckets"]} <= {1, 4}
    assert m2["totals"] == m1["totals"]


def test_pipeline_single_parse_pass(spark, tmp_path):
    # the op-typed unified frame is persisted before the three-sink
    # fan-out, so every source row flows through the parse stage exactly
    # once per run — an unpersisted fan-out would show 3x here
    acc = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(c):
        acc.add(1)
        return c

    src = generate_source_repos(spark, 300, seed=9).withColumn(
        "content", counted("content")
    )
    run_pipeline(spark, src, str(tmp_path / "kg3"), n_buckets=4, run_cc=False)
    assert acc.value == 300


def test_failed_run_leaves_no_cached_frame(spark, tmp_path, monkeypatch):
    # the persisted unified frame is released once the metrics have read
    # it, and also when a later step raises: the caller's session keeps
    # no cache of a failed run
    spark.catalog.clearCache()

    def failing_cc(*args, **kwargs):
        raise RuntimeError("connected components failed")

    monkeypatch.setattr(pipeline, "canonical_triples", failing_cc)
    with pytest.raises(RuntimeError, match="connected components failed"):
        run_pipeline(spark, generate_source_repos(spark, 200, seed=3), str(tmp_path / "kg"), n_buckets=4)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_gtg_report_and_injected_mismatch(spark, tmp_path):
    from smartlogic_concordance_transformer_spark.metrics import gtg_check

    out = str(tmp_path / "kg4")
    src = generate_source_repos(spark, 400, seed=13)
    m = run_pipeline(spark, src, out, n_buckets=4, run_cc=False)
    assert m["gtg"]["ok"]
    assert m["gtg"]["ledger_complete"]
    assert m["gtg"]["mismatches"] == []

    # injected fault 1: clobber one bucket of the durable triples output
    b = next(
        int(k)
        for k, v in m["per_bucket"].items()
        if sum(x for name, x in v.items() if name.startswith("triples_")) > 0
    )
    shutil.rmtree(os.path.join(out, "triples", f"bucket={b}"))
    m2 = gtg_check(spark, out, n_buckets=4)
    assert not m2["gtg"]["ok"]
    assert any(
        x["check"] == "triples_durable" and x["bucket"] == b
        for x in m2["gtg"]["mismatches"]
    )

    # injected fault 2: a missing ledger entry flips ledger_complete
    os.remove(os.path.join(out, "_ledger", "bucket=2.json"))
    m3 = gtg_check(spark, out, n_buckets=4)
    assert not m3["gtg"]["ledger_complete"]
    assert m3["gtg"]["missing_ledger"] == [2]

    # injected fault 3: a CORRUPT (unreadable) table must be flagged as
    # table_unreadable, not conflated with a correctly-empty one
    for f in os.listdir(os.path.join(out, "quarantine")):
        p = os.path.join(out, "quarantine", f)
        if os.path.isdir(p):
            for part in os.listdir(p):
                if part.endswith(".parquet"):
                    with open(os.path.join(p, part), "wb") as fh:
                        fh.write(b"not a parquet file")
    m4 = gtg_check(spark, out, n_buckets=4)
    assert not m4["gtg"]["ok"]
    assert any(
        x["check"] == "table_unreadable" and x["table"] == "quarantine"
        for x in m4["gtg"]["mismatches"]
    )
    # and the whole-table flag suppresses the per-bucket 0-count noise
    assert not any(
        x["check"] == "quarantine_durable" for x in m4["gtg"]["mismatches"]
    )


def test_resume_noop_when_all_done(spark, tmp_path):
    out = str(tmp_path / "kg2")
    src = generate_source_repos(spark, 300, seed=3)
    run_pipeline(spark, src, out, n_buckets=4, run_cc=False)
    before = _triples_set(spark, out)
    m = run_pipeline(spark, src, out, n_buckets=4, run_cc=False)
    assert _triples_set(spark, out) == before
    assert m["touched_buckets"] == []


def test_gtg_infers_n_buckets_from_ledger_meta(spark, tmp_path):
    # trailing buckets with no ledger entry must be visible even when the
    # caller omits n_buckets: the ledger meta is authoritative
    from smartlogic_concordance_transformer_spark.metrics import gtg_check

    out = str(tmp_path / "kg5")
    run_pipeline(spark, generate_source_repos(spark, 300, seed=21), out, n_buckets=6, run_cc=False)
    # drop the LAST bucket's ledger entry — max(done)+1 inference would hide it
    os.remove(os.path.join(out, "_ledger", "bucket=5.json"))
    m = gtg_check(spark, out)  # no n_buckets passed
    assert not m["gtg"]["ledger_complete"]
    assert m["gtg"]["missing_ledger"] == [5]


def _data_files(d):
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


@pytest.fixture(scope="module")
def shaped_run(spark, tmp_path_factory):
    """One run_pipeline at test scale: (out root, manifest, the executed
    plan of the persisted unified frame as split_unified receives it)."""
    seen = {}
    real_split = pipeline.split_unified

    def spy(unified, carry=()):
        assert unified.is_cached
        seen["plan"] = unified._jdf.queryExecution().executedPlan().toString()
        return real_split(unified, carry)

    out = str(tmp_path_factory.mktemp("shaped") / "kg")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pipeline, "split_unified", spy)
        manifest = run_pipeline(
            spark, generate_source_repos(spark, 600, seed=17), out, n_buckets=N_BUCKETS
        )
    assert manifest["gtg"]["ok"], manifest["gtg"]
    return out, manifest, seen["plan"]


def test_one_data_file_per_bucket(shaped_run):
    # each write task owns whole buckets, so a bucket is one file per
    # table, not one per (scan task, bucket)
    out, _, _ = shaped_run
    for table in ("upp", "quarantine", "triples"):
        buckets = [d for d in os.listdir(os.path.join(out, table)) if d.startswith("bucket=")]
        assert len(buckets) > 1, table
        for d in buckets:
            assert len(_data_files(os.path.join(out, table, d))) == 1, (table, d)


def test_run_pipeline_leaves_session_overwrite_mode_alone(spark, shaped_run, tmp_path):
    # dynamic overwrite is an option of run_pipeline's own writes: the
    # caller's session keeps its static default, so a later partitioned
    # overwrite still replaces partitions its input no longer has
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower() == "static"
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a"), (2, "b")], "p int, v string").write.partitionBy(
        "p"
    ).parquet(path)
    spark.createDataFrame([(1, "c")], "p int, v string").write.mode("overwrite").partitionBy(
        "p"
    ).parquet(path)
    assert [tuple(r) for r in spark.read.parquet(path).collect()] == [("c", 1)]


def test_persisted_unified_is_rebalanced_by_bucket(shaped_run):
    _, _, plan = shaped_run
    assert "REBALANCE_PARTITIONS_BY_COL" in plan, plan
    assert "Exchange hashpartitioning(bucket#" in plan, plan
    # the parse UDF still runs once, below the exchange
    assert plan.count("ArrowEvalPython") == 1, plan


def test_metrics_equal_counts_reread_from_tables(spark, shaped_run):
    out, manifest, _ = shaped_run
    reread: dict = defaultdict(Counter)

    def add(table, col, prefix):
        df = spark.read.parquet(os.path.join(out, table))
        for r in df.groupBy("bucket", col).count().collect():
            reread[str(r["bucket"])][prefix + r[col]] += r["count"]

    add("upp", "op", "docs_")
    add("quarantine", "status", "docs_")
    add("triples", "pred", "triples_")
    for c in reread.values():
        c["docs_valid"] = c["docs_upsert"] + c["docs_delete"]
        c["docs_in"] = c["docs_valid"] + c["docs_SyntacticallyIncorrect"] + c["docs_SemanticallyIncorrect"]
    expected = {b: {m: v for m, v in c.items() if v} for b, c in reread.items()}
    assert manifest["per_bucket"] == expected
    totals: Counter = Counter()
    for c in expected.values():
        totals.update(c)
    assert manifest["totals"] == dict(totals)
    assert manifest["canonical_edges"] == spark.read.parquet(
        os.path.join(out, "canonical_triples")
    ).count()


def test_gtg_healthy_root_runs_at_most_two_jobs(spark, shaped_run):
    # one union groupBy over the three tables under a known schema: a
    # shuffle map job and a result job, no schema-inference job
    out, _, _ = shaped_run
    sc = spark.sparkContext
    sc.setJobGroup("test-gtg-jobs", "gtg_check on a healthy root")
    try:
        m = gtg_check(spark, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert m["gtg"]["ok"], m["gtg"]
    assert 1 <= len(sc.statusTracker().getJobIdsForGroup("test-gtg-jobs")) <= 2


def test_gtg_reads_success_only_table_as_empty(spark, tmp_path):
    # zero quarantined docs: the quarantine directory holds no data file
    # (under dynamic partition overwrite not even _SUCCESS; a plain
    # committer leaves only _SUCCESS). Both are an empty table, not an
    # unreadable one.
    src = generate_source_repos(spark, 300, seed=23)
    good, _ = transform(src, carry=("path",))
    valid = [r["path"] for r in good.select("path").collect()]
    out = str(tmp_path / "kg6")
    m = run_pipeline(spark, src.filter(F.col("path").isin(valid)), out, n_buckets=4, run_cc=False)
    quarantine = os.path.join(out, "quarantine")
    assert not any(_data_files(d) for d, _, _ in os.walk(quarantine))
    assert m["gtg"]["ok"], m["gtg"]
    assert m["totals"]["docs_in"] == len(valid)
    open(os.path.join(quarantine, "_SUCCESS"), "w").close()
    assert os.listdir(quarantine) == ["_SUCCESS"]
    m2 = gtg_check(spark, out)
    assert m2["gtg"]["ok"], m2["gtg"]
