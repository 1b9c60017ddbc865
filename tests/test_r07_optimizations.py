"""Round-7 optimization guards: changed internals keep their contracts."""

import pandas as pd
import pytest


def test_facet_range_validates_args(spark):
    from lucille_spark.query.executor_df import facet_range_df

    df = spark.range(5).selectExpr("cast(id as double) v")
    with pytest.raises(ValueError):
        facet_range_df(df, "v", 0.0, 10.0, 0.0)      # gap == 0
    with pytest.raises(ValueError):
        facet_range_df(df, "v", 0.0, 10.0, -1.0)     # gap < 0
    with pytest.raises(ValueError):
        facet_range_df(df, "v", 10.0, 10.0, 1.0)     # end == start
    # valid args still work
    got = facet_range_df(df, "v", 0.0, 5.0, 2.5).collect()
    assert [(r.bucket_start, r.n) for r in got] == [(0.0, 3), (2.5, 2)]


def test_merge_skips_hot_pass_keeps_results(spark, tmp_path):
    """The totals_by_field shortcut (no hot-table job for micro-batches)
    must produce the same postings as the full cf-pass route."""
    from pyspark.sql import functions as F

    from lucille_spark.corpus import corpus_df
    from lucille_spark.index.builder import build_index
    from lucille_spark.index.merge import merge_index

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    base = corpus_df(spark, 300, partitions=3)
    delta = corpus_df(spark, 40, partitions=2).withColumn(
        "repo", F.concat(F.lit("d/"), F.col("repo")))
    for out in (a, b):
        build_index(base, out, fields=("content",), block_size=32,
                    docs_per_salt=64)
    # route 1: shortcut active (total tokens of 40 docs >? 64 -> force
    # the comparison by docs_per_salt larger than the delta's total)
    merge_index(delta, a, fields=("content",), block_size=32,
                docs_per_salt=1 << 17, run_id="m-short")
    # route 2: hot pass forced (threshold below delta total)
    merge_index(delta, b, fields=("content",), block_size=32,
                docs_per_salt=64, run_id="m-full")
    import pyarrow.dataset as ds

    pa_ = ds.dataset(f"{a}/doc_stats", ignore_prefixes=[".", "_"]) \
        .to_table().to_pandas().sort_values("doc_ord").reset_index(drop=True)
    pb = ds.dataset(f"{b}/doc_stats", ignore_prefixes=[".", "_"]) \
        .to_table().to_pandas().sort_values("doc_ord").reset_index(drop=True)
    assert pa_.equals(pb)
    from lucille_spark.index.reader import IndexReader

    def lexicon(idx):  # the merged version's terms, as a reader folds them
        rd = IndexReader(idx)
        terms = rd.terms_with_prefix("content", "", limit=1 << 30)
        return pd.DataFrame([rd.term_info("content", t) for t in terms])

    la, lb = lexicon(a), lexicon(b)
    # identical term statistics; block counts may differ only via salting
    assert la[["field", "term", "df", "cf"]].equals(
        lb[["field", "term", "df", "cf"]])
