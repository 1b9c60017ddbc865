"""Dump formatted physical plans of the engine's key queries to PLANS.md —
the plan-quality evidence (pushdown, pruning, codegen spans, no stray
shuffles). Run from the repo root: python tools/dump_plans.py [sf_dir]

The generated sections replace the top of PLANS.md; everything from the
MARKER line on (the hand-kept per-round audits) is preserved."""

from __future__ import annotations

import io
import os
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, ".")

MARKER = "<!-- hand-kept audits below; tools/dump_plans.py keeps them -->"


def explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import functions as F

    from lucille_spark import gate
    from lucille_spark.corpus import documents_as_corpus
    from lucille_spark.index.builder import (
        add_doc_identity, build_index, postings_blocks, postings_layout)
    from lucille_spark.query.executor_df import search_batch
    from lucille_spark.session import get_spark

    spark = get_spark("plans", cpus=8, shuffle_partitions=8)
    sections = []

    sections.append((
        "Distributed BM25 top-k (bm25_query_df) — the no-index scan path",
        "What to look for: ONE parquet scan with ReadSchema pruned to "
        "(doc_id, text); per-term tf as codegen'd array expressions (no "
        "Python, no explode); a single-row partial_agg->final agg for "
        "df/N/avgdl broadcast back; TakeOrderedAndProject instead of a "
        "global sort. The only exchanges are the scalar-stats broadcast "
        "and top-k collection — nothing corpus-sized shuffles.",
        explain(gate.bm25_or(spark, sf_dir))))

    sections.append((
        "Boolean match (percolator semantics)",
        "Filter fully codegen'd over the token array; scan pruned to two "
        "columns; no shuffle at all.",
        explain(gate.bool_match_not(spark, sf_dir))))

    corpus = documents_as_corpus(spark, sf_dir)
    from lucille_spark.analysis import tokenize_col
    from lucille_spark.index.ordinals import assign_doc_ord

    docs = assign_doc_ord(add_doc_identity(corpus), "doc_id").withColumn(
        "dl_content", F.size(tokenize_col(F.col("content"))).cast("long"))
    n, total = docs.agg(F.count("*"), F.sum("dl_content")).first()
    # build_index and merge_index plan these with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    postings = []
    for dps in (total - 1, total):
        totals = {"content": total}
        blocks = postings_blocks(
            docs, ("content",), {"content": total / n}, n,
            docs_per_salt=dps, totals_by_field=totals)
        postings.append(explain(
            postings_layout(blocks, ("content",), totals, dps)))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "rangepartitioning" in postings[0]
    assert "rangepartitioning" not in postings[1]
    sections.append((
        "Index build: postings pipeline and range write (postings_blocks, "
        "postings_layout)",
        "The token explode is narrow and whole-stage codegen'd. The hot-term "
        "cf aggregate combines map-side and is broadcast-joined, so it adds "
        "no corpus-sized shuffle. The ONE corpus-sized exchange is "
        "hashpartitioning(term, salt, spark.sql.shuffle.partitions), then "
        "Sort [term, salt] within each partition, then MapInArrow: the "
        "encode kernel takes whole Arrow batches of (term, salt)-sorted "
        "occurrences and carries the last group of each batch into the "
        "next. No FlatMapGroupsInPandas and no per-group Python call. "
        "Shown with docs_per_salt just under the field's token total, so "
        "the token-total rule picks the shuffle-partition route, and the "
        "write (postings_layout) adds Exchange rangepartitioning(field, "
        "term, max(defaultParallelism, 8)) -> Sort [field, term, "
        "first_doc]: one term range per file. That range exchange runs a "
        "boundary-sampling job, which is why build_index persists the "
        "encoded blocks between the two (the persist is left out here so "
        "the whole pipeline shows in one plan). The doc_ord assignment "
        "below the explode (ordinals.py: count, window) is the docs cache "
        "that build_index persists and reuses.",
        postings[0]))
    sections.append((
        "Small build and merge micro-batch: one term-sorted partition, "
        "written as it is",
        "The same plan when every field's token total is <= docs_per_salt "
        "(builder.encode_partitions): no hot-term job, and the exchange is "
        "SinglePartition -> Sort [term] (salt is the constant 0) -> "
        "MapInArrow. postings_layout writes that output as it is: no "
        "rangepartitioning exchange and no Sort above the MapInArrow, so "
        "build_index writes the postings as one term-sorted file and "
        "merge_index appends the delta's blocks as one file.",
        postings[1]))

    sections.append((
        "Exact-dup groups (hash groupBy on sha256)",
        "Partial aggregation map-side (uniform hash keys -> no skew), one "
        "exchange on the hash.",
        explain(gate.dedup_exact(spark, sf_dir))))

    sections.append((
        "ANN cosine top-k (brute-force baseline)",
        "Dot products as codegen'd higher-order array folds; "
        "TakeOrderedAndProject for k.",
        explain(gate.ann_cosine_top10(spark, sf_dir))))

    sections.append((
        "Grouped BM25 over the corpus (bm25_grouped_df)",
        "Per-term tf as codegen'd array expressions over a pruned scan, "
        "crossed with the broadcast one-row corpus stats; WindowGroupLimit "
        "cuts each group's rows map-side before the one exchange per "
        "window, and the top groups come from TakeOrderedAndProject, "
        "broadcast back to the hits.",
        explain(gate.bm25_grouped_df(spark, sf_dir))))

    idx = tempfile.mkdtemp(prefix="plans_idx_")
    try:
        build_index(corpus, idx, fields=("content",))
        sections.append((
            "Batch search over a built index (search_batch)",
            "The query list is a local relation built from a pyarrow Table "
            "(no pickled Python-RDD pass), coalesced with no exchange into "
            "one task per QUERIES_PER_TASK queries up to every core. Each "
            "MapInPandas worker scores its queries with a searcher it "
            "caches per index version. No corpus-sized scan or shuffle "
            "appears in the plan.",
            explain(search_batch(spark, idx, [("q0", "content:merge")],
                                 k=10))))
    finally:
        shutil.rmtree(idx, ignore_errors=True)

    tail = ""
    if os.path.exists("PLANS.md"):
        with open("PLANS.md") as fh:
            old = fh.read()
        if MARKER in old:
            tail = old[old.index(MARKER):]
    with open("PLANS.md", "w") as fh:
        fh.write("# PLANS — physical-plan evidence (`.explain(\"formatted\")`)\n\n"
                 "Generated by tools/dump_plans.py at sf0.01. Annotations "
                 "describe what makes each plan the one you'd want at "
                 "100 TB.\n")
        for title, note, plan in sections:
            plan = plan.replace("\x00", "\\x00")  # NUL id-separator literal
            fh.write(f"\n## {title}\n\n{note}\n\n```\n{plan}```\n")
        if tail:
            fh.write("\n" + tail)
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
