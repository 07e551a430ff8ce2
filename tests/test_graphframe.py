"""GraphFrame facade: schema check, out-degrees, pageRank vs an independent
numpy power-iteration model, triangle count and motif finding."""

import numpy as np
import pytest

from smartlogic_concordance_transformer_spark.graph import GraphFrame

# two components: a triangle with a tail (a-b-c-a, c-d) and an arrow pair
# (x -> y), plus isolated vertex z
V = [("a",), ("b",), ("c",), ("d",), ("x",), ("y",), ("z",)]
E = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("x", "y")]


@pytest.fixture(scope="module")
def g(spark):
    return GraphFrame(
        spark.createDataFrame(V, ["id"]), spark.createDataFrame(E, ["src", "dst"])
    )


def test_schema_validation(spark):
    with pytest.raises(ValueError, match="'id'"):
        GraphFrame(spark.createDataFrame(V, ["name"]), spark.createDataFrame(E, ["src", "dst"]))
    with pytest.raises(ValueError, match="dst"):
        GraphFrame(spark.createDataFrame(V, ["id"]), spark.createDataFrame(E, ["src", "to"]))


def test_degrees(g):
    assert {(r.id, r.outDegree) for r in g.outDegrees.collect()} == {
        ("a", 1), ("b", 1), ("c", 2), ("x", 1),
    }


def test_pagerank_matches_numpy_power_iteration(g):
    ids = sorted(v[0] for v in V)
    idx = {v: i for i, v in enumerate(ids)}
    out_deg = np.zeros(len(ids))
    for s, _ in E:
        out_deg[idx[s]] += 1
    pr = np.ones(len(ids))
    for _ in range(10):
        mass = np.zeros(len(ids))
        for s, d in E:
            mass[idx[d]] += pr[idx[s]] / out_deg[idx[s]]
        pr = 0.15 + 0.85 * mass
    got = {r.id: r.pagerank for r in g.pageRank(maxIter=10).vertices.collect()}
    assert set(got) == set(ids)
    for v in ids:
        assert got[v] == pytest.approx(pr[idx[v]], rel=1e-9), v


def test_triangle_count(g):
    got = {r.id: r["count"] for r in g.triangleCount().collect()}
    assert got == {"a": 1, "b": 1, "c": 1, "d": 0, "x": 0, "y": 0, "z": 0}


def test_motif_two_path(g):
    # E = a->b, b->c, c->a, c->d, x->y; 2-paths (u)->(v)->(w):
    # a->b->c, b->c->a, b->c->d, c->a->b
    rows = {
        (r["u"]["id"], r["v"]["id"], r["w"]["id"])
        for r in g.find("(u)-[]->(v); (v)-[]->(w)").collect()
    }
    assert rows == {("a", "b", "c"), ("b", "c", "a"), ("b", "c", "d"), ("c", "a", "b")}


def test_motif_directed_triangle(g):
    rows = {
        (r["u"]["id"], r["v"]["id"], r["w"]["id"])
        for r in g.find("(u)-[]->(v); (v)-[]->(w); (w)-[]->(u)").collect()
    }
    # the a->b->c->a cycle, once per rotation
    assert rows == {("a", "b", "c"), ("b", "c", "a"), ("c", "a", "b")}


def test_motif_named_edge_and_anonymous_vertex(g):
    out = g.find("(u)-[e]->()")
    rows = {(r["u"]["id"], r["e"]["src"], r["e"]["dst"]) for r in out.collect()}
    assert rows == {(s, s, d) for s, d in E}
    assert out.columns == ["u", "e"]


def test_motif_rejects_bad_input(g):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported motif term"):
        g.find("(a)-(b)")
    with _pytest.raises(ValueError, match="distinct"):
        g.find("(a)-[e]->(b); (b)-[e]->(c)")


def test_motif_vertex_edge_name_clash_rejected(g):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="both a vertex and an edge"):
        g.find("(a)-[]->(b); (c)-[a]->(d)")
