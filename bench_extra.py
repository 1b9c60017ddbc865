"""Extra benchmarks for optimization work (guide §1.4 noop-sink isolation).

NOT part of the driver contract — bench.py stays the frozen measurement.
Run: python bench_extra.py <mode> [args]

Modes:
  build_profile [n_docs] [cpus]   stage-level timing of build_index over the
                                  deterministic F1 corpus (each stage's
                                  seconds from the build's _lineage table
                                  + per-pass noop isolation)
  wand [n_docs] [cpus]            WAND latencies on a fresh index
  queries [sf_dir] [cpus]         noop-isolated timings of the DataFrame
                                  query/dedup/ANN paths bench.py times
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _t(label, fn):
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    print(f"[{label}] {dt:.3f}s", flush=True)
    return out, dt


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def stage_seconds(index_dir):
    """{stage: seconds} from a build's _lineage table (doc_stats,
    corpus_stats, postings, lexicon)."""
    import pyarrow.dataset as ds

    rows = ds.dataset(os.path.join(index_dir, "_lineage"),
                      ignore_prefixes=[".", "_"]).to_table().to_pylist()
    return {r["stage"]: round(r["seconds"], 3) for r in rows}


def build_profile(n_docs=42000, cpus=8):
    from pyspark.sql import functions as F

    from lucille_spark.analysis import tokenize_col
    from lucille_spark.corpus import corpus_df
    from lucille_spark.index.builder import (add_doc_identity, build_index)
    from lucille_spark.session import get_spark

    spark = get_spark(f"profile-{cpus}", cpus=cpus, shuffle_partitions=cpus)
    sc = spark.sparkContext

    corpus = corpus_df(spark, n_docs, partitions=cpus * 2)
    sc.setJobDescription("corpus generate only")
    _t("corpus_gen_noop", lambda: noop(corpus))
    sc.setJobDescription("corpus + identity + tokenize dl")
    ident = add_doc_identity(corpus)
    docs_dl = ident.withColumn(
        "dl", F.size(tokenize_col(F.col("content"))).cast("long"))
    _t("gen+sha+tokenize_dl_noop", lambda: noop(docs_dl.select("doc_id", "dl")))
    sc.setJobDescription("cf pass (tokenize+explode+count)")
    cf = (corpus.select(F.explode(tokenize_col(F.col("content"))).alias("term"))
          .groupBy("term").count())
    _t("cf_pass_noop", lambda: noop(cf))

    # cold + steady full builds
    for tag in ("cold", "steady1", "steady2"):
        out = tempfile.mkdtemp(prefix=f"lucille_prof_{tag}_")
        try:
            sc.setJobDescription(f"full build {tag}")
            _t(f"build_{tag}", lambda: build_index(
                corpus, out, fields=("content",), store_positions=True))
            print(f"[build_{tag} stages] {json.dumps(stage_seconds(out))}",
                  flush=True)
        finally:
            shutil.rmtree(out, ignore_errors=True)
    spark.stop()


def wand(n_docs=42000, cpus=8):
    from lucille_spark.corpus import corpus_df
    from lucille_spark.index.builder import build_index
    from lucille_spark.query.searcher import IndexSearcher
    from lucille_spark.session import get_spark

    spark = get_spark(f"wand-{cpus}", cpus=cpus, shuffle_partitions=cpus)
    out = tempfile.mkdtemp(prefix="lucille_wand_")
    queries = {
        "wand_or": "content:test OR content:giraffe",
        "wand_and": "content:return AND content:import",
        "wand_hot_or": "content:if OR content:return",
        "wand_single_hot": "content:if",
        "wand_rare": "content:koala",
        "wand_phrase": 'content:"return import"',
        "wand_bool": "content:return AND -(content:koala OR content:giraffe)",
    }
    try:
        build_index(corpus_df(spark, n_docs, partitions=cpus * 2), out,
                    fields=("content",), store_positions=True)
        res = {}
        for name, q in queries.items():
            ts = []
            for _ in range(5):
                s = IndexSearcher(out)
                t0 = time.time()
                s.search(q, k=10)
                ts.append(time.time() - t0)
            res[name] = round(sorted(ts)[2], 4)
        print(json.dumps(res))
    finally:
        shutil.rmtree(out, ignore_errors=True)
        spark.stop()


def queries(sf_dir="/root/testdata/sf0.1", cpus=32):
    from lucille_spark import gate
    from lucille_spark.session import get_spark

    spark = get_spark(f"q-{cpus}", cpus=cpus, shuffle_partitions=cpus)
    sc = spark.sparkContext
    res = {}
    for name in ("bm25_or", "dedup_exact", "dedup_minhash_signatures",
                 "ann_cosine_top10", "text_quality"):
        fn = getattr(gate, name)
        ts = []
        for _ in range(4):
            sc.setJobDescription(name)
            t0 = time.time()
            noop(fn(spark, sf_dir))
            ts.append(time.time() - t0)
        res[name] = [round(x, 3) for x in ts]
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "build_profile"
    args = [int(a) if a.isdigit() else a for a in sys.argv[2:]]
    globals()[mode](*args)
