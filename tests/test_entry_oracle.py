"""Pre-flight for the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same sf0.01 parquet,
compare row multisets after sorting columns by name (the driver's
value-hash semantics)."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry

SF_DIR = entry.ORACLE_SF_DIR
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"create view {t} as select * from read_parquet('{p}')")
    return con


def _norm(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, int):
        return int(v)
    return v


def _rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", sorted(entry.oracle_sql().keys()))
def test_query_matches_duckdb_oracle(spark, name):
    q = entry.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = _duck()
    res = con.execute(entry.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    a = _rows_to_multiset(spark_cols, spark_rows)
    b = _rows_to_multiset(duck_cols, duck_rows)
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_registry_holds_exactly_fifty_queries():
    # the driver's correctness gate checks AT MOST 50 queries (round-5
    # registered 51, the driver file carried exactly the first 50 — see
    # docs/COVERAGE.md); every entry must land in the gate, so the
    # registry pins to exactly 50 and the overflow lives in
    # retired_queries() below, oracle-checked here instead
    assert len(entry.queries()) == 50
    assert not set(entry.retired_queries()) & set(entry.queries())
    # every retired query keeps its oracle, and no oracle outlives its query
    assert set(entry.retired_queries()) == set(entry.retired_oracle_sql())


@pytest.mark.parametrize("name", sorted(entry.retired_oracle_sql().keys()))
def test_retired_query_matches_duckdb_oracle(spark, name):
    # retired from the capped driver registry, NOT from the engine:
    # same full rows+schema+values comparison, every round, via pytest
    q = entry.retired_queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = _duck()
    res = con.execute(entry.retired_oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    a = _rows_to_multiset(spark_cols, spark_rows)
    b = _rows_to_multiset(duck_cols, duck_rows)
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_every_query_has_oracle_or_reason():
    qs = set(entry.queries())
    os_ = set(entry.oracle_sql())
    assert os_ <= qs
    # since round 4 EVERY query is oracle-checked: dedup_simhash via the
    # portable md5 token hash, sim_ivf via deterministic training +
    # centroid literals, and multimodal_features via a precomputed-literal
    # VALUES table built with hashlib (independent of the engine's
    # expression/UDF paths; DuckDB 1.0 cannot hash BLOBs so the raw-digest
    # steps are not SQL-expressible directly). Those two builders read the
    # ORACLE_SF_DIR parquet; on a machine without it they degrade to the
    # driver's rows-only check rather than fail.
    # per-query gating on the file each builder actually reads: the
    # hashlib-literal oracle needs documents.parquet, sim_ivf's retrain
    # needs embeddings.parquet — a builder regression on a machine that
    # HAS its input still fails here
    allowed_missing = set()
    if not os.path.exists(os.path.join(SF_DIR, "documents.parquet")):
        allowed_missing |= {"multimodal_features"}
    if not os.path.exists(os.path.join(SF_DIR, "embeddings.parquet")):
        allowed_missing |= {"sim_ivf"}
    assert qs - os_ <= allowed_missing


def test_entry_smoke(spark):
    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["doc_id", "upp_json"]
    assert rows[0].upp_json.startswith('{"authority":"Smartlogic"')
