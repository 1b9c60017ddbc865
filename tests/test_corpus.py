"""Determinism + marker-df checks for the F1 synthetic corpus."""

import numpy as np

from lucille_spark.corpus import corpus_pdf


def test_pure_function_of_index():
    a = corpus_pdf(np.arange(100))
    b = corpus_pdf(np.arange(100))
    assert a.equals(b)


def test_partition_independence():
    whole = corpus_pdf(np.arange(200))
    parts = [corpus_pdf(np.arange(0, 50)), corpus_pdf(np.arange(50, 200))]
    import pandas as pd
    joined = pd.concat(parts, ignore_index=True)
    assert whole.equals(joined)


def test_schema_and_markers():
    pdf = corpus_pdf(np.arange(2000))
    assert list(pdf.columns) == ["repo", "path", "commit", "lang", "content"]
    text = " " + " ".join(pdf["content"]) + " "
    assert " koala " in text  # df=1 marker (doc 37)
    n_test = sum(1 for c in pdf["content"] if " test" in " " + c + " ")
    assert n_test >= 2000 // 50  # planted df
    collide = [c for i, c in enumerate(pdf["content"]) if i % 97 == 5]
    assert all(c.startswith("ident_collide ") for c in collide)
    assert len({len(c.split()) for c in collide}) == 1  # fixed dl → ties


def test_lengths_in_range():
    pdf = corpus_pdf(np.arange(500))
    lens = pdf["content"].str.split().map(len)
    assert lens.min() >= 30
    assert lens.max() <= 604  # 600 + planted markers


def _one_file_scan(spark, directory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    directory.mkdir(parents=True)
    pq.write_table(pa.Table.from_pandas(corpus_pdf(np.arange(20)),
                                        preserve_index=False),
                   str(directory / "part-0.parquet"))
    df = spark.read.parquet(str(directory))
    assert df.rdd.getNumPartitions() == 1
    return df


def test_spread_small_input_keeps_tiny_input_under_floor(spark, tmp_path):
    """Spark lists the file as a percent-encoded URI; the size probe must
    still find it, so an input under the floor is left alone."""
    from lucille_spark.corpus import spread_small_input

    df = _one_file_scan(spark, tmp_path / "with space")
    assert "%20" in df.inputFiles()[0]
    assert spread_small_input(df, min_parts=4, min_bytes=1 << 20) is df


def test_spread_small_input_spreads_input_above_floor(spark, tmp_path):
    from lucille_spark.corpus import spread_small_input

    df = _one_file_scan(spark, tmp_path / "big")
    out = spread_small_input(df, min_parts=4, min_bytes=1)
    assert out is not df and out.rdd.getNumPartitions() == 4
    assert out.count() == df.count()


def test_spread_small_input_leaves_parallel_scan(spark):
    from lucille_spark.corpus import spread_small_input

    df = spark.range(0, 100, 1, 4)
    assert spread_small_input(df, min_parts=4) is df
    assert spread_small_input(df, min_parts=4, min_bytes=1) is df
