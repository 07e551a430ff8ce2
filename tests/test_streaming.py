"""Structured Streaming path: file-source micro-batches through the same
transform, exactly-once via checkpoint."""

import json
import os

from pyspark.sql import functions as F

from smartlogic_concordance_transformer_spark.streaming import (
    file_stream_source,
    start_stream,
)

PAYLOAD = (
    '{"@graph":[{"@id":"http://www.ft.com/thing/20db1bd6-59f9-4404-adb5-3165a448f8b0",'
    '"@type":["http://www.ft.com/ontology/Brand"],'
    '"http://www.ft.com/ontology/TMEIdentifier":[{"@value":"AbCdEfgHiJkLMnOpQrStUvWxYz-0123456789"}]}]}'
)
BAD = '{"@graph": []}'


def _write_batch(in_dir, name, rows):
    os.makedirs(in_dir, exist_ok=True)
    tmp = os.path.join(in_dir, f".{name}.tmp")
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.replace(tmp, os.path.join(in_dir, name))


def _row(i, content):
    return {
        "repo": "stream/repo",
        "path": f"msg/{i}.json",
        "commit": f"{i:040d}",
        "lang": "json",
        "content": content,
    }


def test_stream_processes_microbatches(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    _write_batch(in_dir, "b0.json", [_row(i, PAYLOAD) for i in range(5)] + [_row(99, BAD)])

    q = start_stream(file_stream_source(spark, in_dir), out, trigger_once=True)
    q.awaitTermination(120)

    triples = spark.read.parquet(os.path.join(out, "triples"))
    assert triples.filter(F.col("pred") == "concordsWith").count() == 5
    assert (
        triples.filter(F.col("pred") == "concordsWith").select("obj").distinct().first().obj
        == "e9f4525a-401f-3b23-a68e-e48f314cdce6"
    )
    quar = spark.read.parquet(os.path.join(out, "quarantine"))
    assert quar.count() == 1
    assert "Missing/invalid @graph" in quar.first().error

    # second batch: only new files are processed (checkpoint offset log)
    _write_batch(in_dir, "b1.json", [_row(100 + i, PAYLOAD) for i in range(3)])
    q2 = start_stream(file_stream_source(spark, in_dir), out, trigger_once=True)
    q2.awaitTermination(120)
    triples2 = spark.read.parquet(os.path.join(out, "triples"))
    assert triples2.filter(F.col("pred") == "concordsWith").count() == 8
    # batch ids are distinct across restarts — no reprocessing of b0
    assert triples2.select("batch_id").distinct().count() == 2
