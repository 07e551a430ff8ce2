"""Table IO: the per-bucket ledger's bucket-count guard, and format parity
of the parquet sink with ORC and CSV."""

from smartlogic_concordance_transformer_spark.io_tables import CheckpointLedger


def test_ledger_n_buckets_guard(tmp_path):
    CheckpointLedger(str(tmp_path / "l"), n_buckets=8)
    try:
        CheckpointLedger(str(tmp_path / "l"), n_buckets=4)
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "n_buckets=8" in str(e)


def test_orc_and_csv_roundtrip_match_parquet(spark, tmp_path):
    """Source/sink format parity: the engine treats parquet as primary,
    but ORC and CSV (header + explicit schema) roundtrip the same rows —
    the swap-in path for pipelines that land data in other formats."""
    src = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    want = {tuple(r) for r in src.collect()}

    orc_p = str(tmp_path / "orc")
    src.write.orc(orc_p)
    assert {tuple(r) for r in spark.read.orc(orc_p).collect()} == want

    csv_p = str(tmp_path / "csv")
    src.write.option("header", True).csv(csv_p)
    back = spark.read.schema(src.schema).option("header", True).csv(csv_p)
    assert {tuple(r) for r in back.collect()} == want
