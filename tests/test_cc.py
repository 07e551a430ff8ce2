"""Connected-components property tests: Spark label propagation vs a plain
Python union-find oracle on seeded random graphs (SURVEY.md section 5)."""

import random

import pytest
from pyspark.sql import functions as F

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


@pytest.mark.parametrize("seed,n_nodes,n_edges", GRAPHS)
def test_cc_matches_union_find(spark, seed, n_nodes, n_edges):
    edges = _random_edges(seed, n_nodes, n_edges)
    df = spark.createDataFrame(edges, "subj string, obj string")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == _canonical(union_find_components(edges))


@pytest.mark.parametrize("partitions", [1, 3, 8])
def test_cc_partition_count_invariant(spark, partitions):
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


def test_cc_bigint_ids_keep_their_type(spark):
    big = 1 << 40
    edges = [(big + 5, big + 3), (big + 3, 7), (9, 8), (big, big + 1)]
    df = spark.createDataFrame(edges, "subj bigint, obj bigint")
    comp = connected_components(df)
    assert [f.dataType.simpleString() for f in comp.schema] == ["bigint", "bigint"]
    got = {r.node: r.component for r in comp.collect()}
    assert got == _canonical(union_find_components(edges))


def test_cc_non_ascii_ids_use_binary_utf8_order(spark):
    # UTF-16 code units would put U+FFFF above U+1F600 (surrogate 0xD83D);
    # in binary UTF-8 order, which Spark and Python's code-point order
    # share, U+FFFF is the smaller one and so the component min
    edges = [("\U0001F600", "\uffff"), ("\uffff", "\U0001F601"), ("\u00e9", "\u00e8a")]
    df = spark.createDataFrame(edges, "subj string, obj string")
    assert df.select(F.least("subj", "obj")).first()[0] == "\uffff"
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == _canonical(union_find_components(edges))
    assert got["\U0001F600"] == "\uffff"


def test_union_find_kernel_matches_reference():
    # the partition kernel alone (no Spark): random directed edge sets,
    # split over two Arrow batches, against the driver union-find
    import pyarrow as pa

    from smartlogic_concordance_transformer_spark.cc import _union_find_partition

    rng = random.Random(5)
    for _ in range(500):
        n = rng.randrange(2, 60)
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(1, 120))]
        edges = [(max(a, b), min(a, b)) for a, b in pairs if a != b]
        if not edges:
            continue
        cut = rng.randrange(len(edges) + 1)
        batches = [
            pa.RecordBatch.from_arrays(
                [pa.array([u for u, _ in part], pa.int64()), pa.array([v for _, v in part], pa.int64())],
                names=["u", "v"],
            )
            for part in (edges[:cut], edges[cut:])
        ]
        (out,) = _union_find_partition(iter(batches))
        got = set(zip(out.column("u").to_pylist(), out.column("v").to_pylist()))
        expected = {(x, c) for x, c in _canonical(union_find_components(edges)).items() if x != c}
        assert got == expected, edges
        assert set(out.column("changed").to_pylist()) == {got != set(edges)}, edges


def test_cc_round_plan_has_no_join_and_two_exchanges(spark):
    from smartlogic_concordance_transformer_spark.cc import _union_find_round

    df = spark.createDataFrame([("b", "a"), ("c", "b")], "u string, v string")
    plan = _union_find_round(df)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan
    assert "MapInArrow" in plan, plan


def test_cc_long_chain(spark):
    # path graph: worst case for naive propagation; must still converge
    chain = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(40)]
    df = spark.createDataFrame(chain, "subj string, obj string")
    got = {r.node: r.component for r in connected_components(df, max_iter=50).collect()}
    assert set(got.values()) == {"c000"}
    assert len(got) == 41


def test_cc_mega_hub_matches_union_find(spark):
    # a 200-spoke hub: every round routes all of its edges to one partition
    rng = random.Random(9)
    edges = [("hub", f"x{i}") for i in range(200)] + [
        (f"x{rng.randrange(200)}", f"y{i}") for i in range(100)
    ]
    df = spark.createDataFrame(edges, "subj string, obj string")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == _canonical(union_find_components(edges))


def test_cc_convergence_guard(spark):
    chain = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(30)]
    df = spark.createDataFrame(chain, "subj string, obj string")
    # a chain this small coalesces into one partition, where one round is
    # a full union-find and the second confirms it: one round cannot
    with pytest.raises(ConvergenceError):
        connected_components(df, max_iter=1)


def test_canonical_triples_shape(spark):
    edges = [("b", "a"), ("b", "c"), ("d", "e")]
    df = spark.createDataFrame(edges, "subj string, obj string")
    rows = {(r.subj, r.pred, r.obj) for r in canonical_triples(df).collect()}
    assert rows == {
        ("a", "concordsWith", "b"),
        ("a", "concordsWith", "c"),
        ("d", "concordsWith", "e"),
    }


def test_cc_converges_on_chained_shared_id_corpus(spark):
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
