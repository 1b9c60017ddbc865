"""Cluster entrypoint: build the inverted index over a corpus table.

    spark-submit --py-files lucille_spark.zip jobs/build_index_job.py \
        --input  s3://bucket/corpus_table/   (parquet/Iceberg of
                                              repo,path,commit,lang,content) \
        --output s3://bucket/index/          \
        --fields content                     \
        --run-id run-2026-08-16              \
        [--resume] [--no-positions] [--docs-per-salt 131072]

On a cluster the same code path runs unchanged: `local[N]` in the sandbox,
N executors under YARN/K8s in production (executors replace the reference's
Worker JVMs — SURVEY.md §3.3). `--resume` re-runs a crashed build of the
same `--run-id`: the stages its `_lineage` rows record are not run again,
and the version lists the files they staged; a build of that run-id that
already published writes nothing (idempotent re-submits).

Package the library with:  cd /root/repo && zip -r lucille_spark.zip lucille_spark
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--fields", nargs="+", default=["content"])
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--no-positions", action="store_true")
    ap.add_argument("--docs-per-salt", type=int, default=1 << 17)
    ap.add_argument("--synthetic-docs", type=int, default=0,
                    help="generate the deterministic F1 corpus instead of "
                         "reading --input (benchmarking)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("lucille-index-build").getOrCreate()

    from lucille_spark.index.builder import build_index

    if args.synthetic_docs:
        from lucille_spark.corpus import corpus_df

        corpus = corpus_df(spark, args.synthetic_docs)
    else:
        corpus = spark.read.parquet(args.input)

    stats = build_index(
        corpus, args.output, fields=tuple(args.fields),
        store_positions=not args.no_positions,
        docs_per_salt=args.docs_per_salt,
        run_id=args.run_id, resume=args.resume)
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
