"""Connected-components property tests: both Spark paths (one union-find
task, rounds) vs a plain Python union-find oracle on seeded random graphs
(SURVEY.md section 5)."""

import random

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from smartlogic_concordance_transformer_spark import cc
from smartlogic_concordance_transformer_spark.cc import (
    ConvergenceError,
    canonical_triples,
    connected_components,
)


def union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for u, v in edges:
        union(u, v)
    return {n: find(n) for n in parent}


def _canonical(roots):
    """union-find roots -> component min per node."""
    comp_min = {}
    for n, root in roots.items():
        comp_min[root] = min(comp_min.get(root, n), n)
    return {n: comp_min[root] for n, root in roots.items()}


def _random_edges(seed, n_nodes, n_edges):
    rng = random.Random(seed)
    edges = [
        (f"n{rng.randrange(n_nodes):04d}", f"n{rng.randrange(n_nodes):04d}")
        for _ in range(n_edges)
    ]
    return [(u, v) for u, v in edges if u != v]


GRAPHS = [(1, 50, 40), (2, 200, 150), (3, 300, 600)]


@pytest.fixture
def rounds(monkeypatch):
    """Force the rounds path: no edge set fits the one-task bound."""
    monkeypatch.setattr(cc, "_ONE_TASK_MAX_BYTES", 0)


def _one_task(df) -> bool:
    """Whether a CC result was planned on the one-task path."""
    return "_union_find_all" in df._jdf.queryExecution().executedPlan().toString()


def _both_paths(spark, tmp_path, monkeypatch, rows, schema, op=connected_components, **kw):
    """``op`` over one parquet-backed edge frame on each path -> {path: result}.
    Its files size it under the bound, so it takes the one task; with the
    bound forced to 0 it takes the rounds."""
    path = str(tmp_path / "edges")
    spark.createDataFrame(rows, schema).write.parquet(path)
    df = spark.read.parquet(path)
    out = {}
    for name, bound in (("one_task", cc._ONE_TASK_MAX_BYTES), ("rounds", 0)):
        monkeypatch.setattr(cc, "_ONE_TASK_MAX_BYTES", bound)
        out[name] = op(df, **kw)
        assert _one_task(out[name]) == (name == "one_task"), name
    return out


@pytest.mark.parametrize("seed,n_nodes,n_edges", GRAPHS)
def test_cc_matches_union_find(spark, tmp_path, monkeypatch, seed, n_nodes, n_edges):
    edges = _random_edges(seed, n_nodes, n_edges)
    expected = _canonical(union_find_components(edges))
    for name, comp in _both_paths(spark, tmp_path, monkeypatch, edges, "subj string, obj string").items():
        got = {r.node: r.component for r in comp.collect()}
        assert got == expected, name


@pytest.mark.parametrize("partitions", [1, 3, 8])
def test_cc_partition_count_invariant(spark, rounds, partitions):
    # correctness needs only "one routing key -> one partition"; with
    # coalescing off the round really runs over `partitions` tasks
    conf = {
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        for seed, n_nodes, n_edges in GRAPHS:
            edges = _random_edges(seed, n_nodes, n_edges)
            df = spark.createDataFrame(edges, "subj string, obj string")
            got = {r.node: r.component for r in connected_components(df).collect()}
            assert got == _canonical(union_find_components(edges)), (partitions, seed)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_cc_bigint_ids_keep_their_type(spark, tmp_path, monkeypatch):
    big = 1 << 40
    edges = [(big + 5, big + 3), (big + 3, 7), (9, 8), (big, big + 1)]
    expected = _canonical(union_find_components(edges))
    for name, comp in _both_paths(spark, tmp_path, monkeypatch, edges, "subj bigint, obj bigint").items():
        assert [f.dataType.simpleString() for f in comp.schema] == ["bigint", "bigint"], name
        got = {r.node: r.component for r in comp.collect()}
        assert got == expected, name


def test_cc_non_ascii_ids_use_binary_utf8_order(spark, tmp_path, monkeypatch):
    # UTF-16 code units would put U+FFFF above U+1F600 (surrogate 0xD83D);
    # in binary UTF-8 order, which Spark and Python's code-point order
    # share, U+FFFF is the smaller one and so the component min
    edges = [("\U0001F600", "\uffff"), ("\uffff", "\U0001F601"), ("\u00e9", "\u00e8a")]
    df = spark.createDataFrame(edges, "subj string, obj string")
    assert df.select(F.least("subj", "obj")).first()[0] == "\uffff"
    expected = _canonical(union_find_components(edges))
    for name, comp in _both_paths(spark, tmp_path, monkeypatch, edges, "subj string, obj string").items():
        got = {r.node: r.component for r in comp.collect()}
        assert got == expected, name
        assert got["\U0001F600"] == "\uffff", name


def _random_edge_batches(rng):
    """A random directed (u > v) int64 edge set split over two Arrow
    batches -> (edges, batches); no batches when no edge is left."""
    n = rng.randrange(2, 60)
    pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(1, 120))]
    edges = [(max(a, b), min(a, b)) for a, b in pairs if a != b]
    if not edges:
        return edges, []
    cut = rng.randrange(len(edges) + 1)
    batches = [
        pa.RecordBatch.from_arrays(
            [pa.array([u for u, _ in part], pa.int64()), pa.array([v for _, v in part], pa.int64())],
            names=["u", "v"],
        )
        for part in (edges[:cut], edges[cut:])
    ]
    return edges, batches


def test_union_find_kernel_matches_reference():
    # the rounds kernel alone (no Spark), against the driver union-find
    rng = random.Random(5)
    for _ in range(500):
        edges, batches = _random_edge_batches(rng)
        if not edges:
            continue
        (out,) = cc._union_find_partition(iter(batches))
        got = set(zip(out.column("u").to_pylist(), out.column("v").to_pylist()))
        expected = {(x, c) for x, c in _canonical(union_find_components(edges)).items() if x != c}
        assert got == expected, edges
        assert set(out.column("changed").to_pylist()) == {got != set(edges)}, edges


def test_one_task_kernel_matches_reference():
    # the one-task kernel alone (no Spark): every node, roots included
    rng = random.Random(6)
    for _ in range(500):
        edges, batches = _random_edge_batches(rng)
        if not edges:
            assert list(cc._union_find_all(iter(batches))) == []
            continue
        (out,) = cc._union_find_all(iter(batches))
        assert out.schema.names == ["node", "component"]
        got = list(zip(out.column("node").to_pylist(), out.column("component").to_pylist()))
        assert len(got) == len(dict(got)), edges  # one row per node
        assert dict(got) == _canonical(union_find_components(edges)), edges


def test_cc_one_task_plan_is_one_stage(spark, tmp_path):
    path = str(tmp_path / "edges")
    spark.createDataFrame([("b", "a"), ("c", "b"), ("e", "d")], "subj string, obj string").write.parquet(path)
    comp = connected_components(spark.read.parquet(path))
    plan = comp._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("Exchange") == 1 and "Exchange SinglePartition" in plan, plan
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan, plan
    assert sorted(comp.collect()) == [("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d")]


def _canonical_edges(df):
    return df.select(
        F.greatest("subj", "obj").alias("u"), F.least("subj", "obj").alias("v")
    ).filter("u != v")


def _planned_bytes(df) -> int:
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def test_cc_gate_reads_the_plan_size(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "edges")
    spark.createDataFrame([("b", "a"), ("c", "b")], "subj string, obj string").write.parquet(path)
    small = spark.read.parquet(path)
    # parquet-backed: sized by its files, far under the bound, and the
    # gate itself runs no Spark job
    sc = spark.sparkContext
    sc.setJobGroup("cc-gate", "cc-gate")
    try:
        assert cc._fits_one_task(_canonical_edges(small))
        assert sc.statusTracker().getJobIdsForGroup("cc-gate") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert _one_task(connected_components(small))
    # an in-memory frame has no size estimate (Long.MaxValue): rounds
    mem = spark.createDataFrame([("b", "a"), ("c", "b")], "subj string, obj string")
    assert _planned_bytes(_canonical_edges(mem)) == (1 << 63) - 1
    assert not cc._fits_one_task(_canonical_edges(mem))
    assert not _one_task(connected_components(mem))
    # above the bound: rounds; at the bound: one task
    size = _planned_bytes(_canonical_edges(small))
    monkeypatch.setattr(cc, "_ONE_TASK_MAX_BYTES", size - 1)
    assert not _one_task(connected_components(small))
    monkeypatch.setattr(cc, "_ONE_TASK_MAX_BYTES", size)
    assert _one_task(connected_components(small))
    # a statistic that cannot be read: rounds
    assert not cc._fits_one_task(object())


def test_cc_round_plan_has_no_join_and_two_exchanges(spark, rounds):
    df = spark.createDataFrame([("b", "a"), ("c", "b")], "u string, v string")
    plan = cc._union_find_round(df)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan
    assert "MapInArrow" in plan, plan


def test_cc_long_chain(spark, tmp_path, monkeypatch):
    # path graph: worst case for naive propagation; must still converge
    chain = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(40)]
    paths = _both_paths(spark, tmp_path, monkeypatch, chain, "subj string, obj string", max_iter=50)
    for name, comp in paths.items():
        got = {r.node: r.component for r in comp.collect()}
        assert got == _canonical(union_find_components(chain)), name
        assert set(got.values()) == {"c000"}, name
        assert len(got) == 41, name


def test_cc_mega_hub_matches_union_find(spark, rounds):
    # a 200-spoke hub: every round routes all of its edges to one partition
    rng = random.Random(9)
    edges = [("hub", f"x{i}") for i in range(200)] + [
        (f"x{rng.randrange(200)}", f"y{i}") for i in range(100)
    ]
    df = spark.createDataFrame(edges, "subj string, obj string")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == _canonical(union_find_components(edges))


def test_cc_convergence_guard(spark, rounds):
    chain = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(30)]
    df = spark.createDataFrame(chain, "subj string, obj string")
    # a chain this small coalesces into one partition, where one round is
    # a full union-find and the second confirms it: one round cannot
    with pytest.raises(ConvergenceError):
        connected_components(df, max_iter=1)


def test_canonical_triples_shape(spark, tmp_path, monkeypatch):
    edges = [("b", "a"), ("b", "c"), ("d", "e")]
    paths = _both_paths(spark, tmp_path, monkeypatch, edges, "subj string, obj string", op=canonical_triples)
    expected = {(c, "concordsWith", n) for n, c in _canonical(union_find_components(edges)).items() if n != c}
    assert expected == {
        ("a", "concordsWith", "b"),
        ("a", "concordsWith", "c"),
        ("d", "concordsWith", "e"),
    }
    for name, triples in paths.items():
        rows = [(r.subj, r.pred, r.obj) for r in triples.collect()]
        assert len(rows) == len(set(rows)) and set(rows) == expected, name


def test_cc_converges_on_chained_shared_id_corpus(spark, rounds):
    """Regression: a production-shaped corpus (shared-id pools chained by
    multi-pool docs) has graph diameter far beyond small test graphs; the
    star algorithm must converge where plain label propagation (diameter-
    bound) failed at 25 iterations. Found via the real spark-submit run."""
    from pyspark.sql import functions as F

    from smartlogic_concordance_transformer_spark.gen import generate_source_repos
    from smartlogic_concordance_transformer_spark.transform import transform
    from smartlogic_concordance_transformer_spark.triples import emit_triples

    src = generate_source_repos(spark, 20000, seed=42)
    good, _ = transform(src)
    edges = emit_triples(good).filter(
        (F.col("pred") == "concordsWith") & (F.col("op") == "upsert")
    )
    comp = connected_components(edges)
    # partition invariant: every node appears exactly once
    assert comp.count() == comp.select("node").distinct().count()
    # canonical is the component min
    assert comp.filter(F.col("component") > F.col("node")).count() == 0
