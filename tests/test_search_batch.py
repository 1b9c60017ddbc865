"""``executor_df.search_batch``: a fan-out sized by the work (one task per
``QUERIES_PER_TASK`` queries, at most ``defaultParallelism``), a query
frame built from Arrow, and answers equal to per-query search."""

import os
import sys

import pytest
from pyspark.sql import functions as F

QUERY = "content:return OR content:import"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_small_batch_is_one_task_without_exchange(spark, index_dir):
    from lucille_spark.query.executor_df import search_batch

    df = search_batch(spark, index_dir, [(f"q{i}", QUERY) for i in range(21)])
    assert df.rdd.getNumPartitions() == 1
    plan = _plan(df)
    assert "Exchange" not in plan and "applySchemaToPythonRDD" not in plan


def test_large_batch_uses_every_core(spark, index_dir):
    from lucille_spark.query.executor_df import QUERIES_PER_TASK, search_batch

    cores = spark.sparkContext.defaultParallelism
    df = search_batch(spark, index_dir, [
        (f"q{i}", QUERY) for i in range(QUERIES_PER_TASK * cores)], k=1)
    assert df.rdd.getNumPartitions() == cores
    assert df.select(F.spark_partition_id()).distinct().count() == cores


def test_empty_batch_is_an_empty_frame(spark, index_dir):
    from lucille_spark.query.executor_df import search_batch

    df = search_batch(spark, index_dir, [])
    assert df.columns == ["query_id", "rank", "doc_id", "score"]
    assert df.collect() == []


@pytest.fixture(scope="module")
def log_queries():
    """1,000 queries of every shape from the benchmark's seeded log."""
    here = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "perfbench")
    sys.path.insert(0, here)
    try:
        import gen
    finally:
        sys.path.remove(here)
    return [(str(i), q) for i, (_, q, _) in enumerate(gen.query_log(1, 1000))]


@pytest.mark.parametrize("size", [21, 40, 200, 1000])
def test_batch_answers_equal_per_query_search(spark, index_dir, log_queries,
                                              size):
    from lucille_spark.query.executor_df import search_batch
    from lucille_spark.query.searcher import IndexSearcher

    queries = log_queries[:size]
    got = {qid: [] for qid, _ in queries}
    for r in sorted(search_batch(spark, index_dir, queries).collect(),
                    key=lambda r: (r.query_id, r.rank)):
        got[r.query_id].append((r.doc_id, r.score))
    searcher = IndexSearcher(index_dir, "content")
    for qid, q in queries:
        assert got[qid] == [(d, float(s)) for d, s in searcher.search(q, 10)], q
