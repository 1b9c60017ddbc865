"""Parallelism-identity contract (FIXTURES.md F6): the index artifacts and
query results must be byte-identical regardless of how many partitions (or
executors) built them — the property the N vs 4N scaling evidence rests on.

Ordinals are content-derived (ordinals.py), avgdl is an exact integer
division, and block layout depends only on (term, doc_ord, salt), so two
builds at different parallelism must agree exactly.
"""

import pytest
from pyspark.sql import functions as F


BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    """Builds at 3 and 13 input partitions, plus a 3-partition build whose
    encode kernel gets 50-row Arrow batches, so (term, salt) groups are
    carried across batch edges inside Spark."""
    from lucille_spark.corpus import corpus_df
    from lucille_spark.index.builder import build_index

    dirs = []
    for parts, batch_rows in ((3, None), (13, None), (3, "50")):
        out = str(tmp_path_factory.mktemp("scale") / f"idx_{parts}")
        before = spark.conf.get(BATCH_CONF)
        if batch_rows:
            spark.conf.set(BATCH_CONF, batch_rows)
        try:
            build_index(corpus_df(spark, 800, partitions=parts), out,
                        fields=("content",), block_size=32, docs_per_salt=64)
        finally:
            spark.conf.set(BATCH_CONF, before)
        dirs.append(out)
    return dirs


def _pdf(spark, path, order):
    return (spark.read.parquet(path).toPandas()
            .sort_values(order).reset_index(drop=True))


def test_lexicon_identical(spark, indexes):
    a, *others = indexes
    la = _pdf(spark, f"{a}/lexicon", ["field", "term"])
    for b in others:
        assert la.equals(_pdf(spark, f"{b}/lexicon", ["field", "term"]))


def test_corpus_stats_identical(indexes):
    from lucille_spark.index import snapshot

    a, *others = indexes
    sa = snapshot.load(a)["stats"]
    for b in others:
        assert snapshot.load(b)["stats"] == sa


def test_doc_stats_identical(spark, indexes):
    a, *others = indexes
    da = _pdf(spark, f"{a}/doc_stats", ["doc_ord"])
    for b in others:
        assert da.equals(_pdf(spark, f"{b}/doc_stats", ["doc_ord"]))


def test_posting_blocks_identical(spark, indexes):
    a, *others = indexes
    cols = ["field", "term", "first_doc", "last_doc", "n_docs",
            "block_max_tfnorm", "bound_avgdl"]
    order = ["field", "term", "first_doc"]
    pa = _pdf(spark, f"{a}/postings", order)
    for b in others:
        pb = _pdf(spark, f"{b}/postings", order)
        assert pa[cols].equals(pb[cols])
        # compressed payloads byte-identical too
        for col in ("doc_gaps", "tfs", "positions"):
            assert [bytes(x) for x in pa[col]] == [bytes(x) for x in pb[col]]


def test_query_results_identical(indexes):
    from lucille_spark.query.searcher import IndexSearcher

    sa, *others = (IndexSearcher(d) for d in indexes)
    for q in ["content:test OR content:giraffe",
              "content:return AND content:import",
              "content:if"]:
        for sb in others:
            assert sa.search(q, 10) == sb.search(q, 10)
