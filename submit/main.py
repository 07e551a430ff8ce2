#!/usr/bin/env python
"""spark-submit entrypoint for the KG-construction batch job.

    zip -r pkg.zip smartlogic_concordance_transformer_spark
    spark-submit --py-files pkg.zip submit/main.py \
        --source /path/to/source_repos_parquet \
        --out /path/to/graph_out --buckets 256 --cc

Reads the (repo, path, commit, lang, content) table, runs the resumable
pipeline (parse -> validate -> derive -> triples -> ledger-committed
partitioned sink -> connected components), prints the run manifest JSON.

With --generate N the source table is synthesized deterministically
instead (bench / smoke usage; no external data).
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--source", help="parquet path of the source_repos table")
    p.add_argument("--generate", type=int, help="synthesize N docs instead of --source")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--out", required=True, help="output root for graph tables + ledger")
    p.add_argument("--buckets", type=int, default=64, help="checkpoint/resume partition count")
    p.add_argument("--cc", action="store_true", help="run connected-components canonicalization")
    p.add_argument("--master", default=None, help="override master (default: from spark-submit)")
    args = p.parse_args()
    if not args.source and not args.generate:
        p.error("one of --source or --generate is required")

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("smartlogic-concordance-kg")
    if args.master:
        builder = builder.master(args.master)
    spark = builder.config("spark.sql.adaptive.enabled", "true").getOrCreate()

    from smartlogic_concordance_transformer_spark.gen import generate_source_repos
    from smartlogic_concordance_transformer_spark.pipeline import run_pipeline

    if args.generate:
        source = generate_source_repos(spark, args.generate, seed=args.seed)
    else:
        source = spark.read.parquet(args.source)

    manifest = run_pipeline(spark, source, args.out, n_buckets=args.buckets, run_cc=args.cc)
    print(json.dumps(manifest, indent=2, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
