"""Checkpoint/resume contract (FIXTURES.md F6): a build interrupted after
some stages committed must, on re-run with resume=True, skip the completed
stages and produce output identical to an uninterrupted build."""

import os
import time

import pytest


def _mtimes(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.stat(p).st_mtime
    return out


def test_resume_skips_completed_stages(spark, tmp_path):
    import lucille_spark.index.builder as B
    from lucille_spark.corpus import corpus_df
    from lucille_spark.index import snapshot

    out = str(tmp_path / "idx")
    corpus = corpus_df(spark, 300, partitions=4)

    # interrupt: raise just before the lexicon stage records
    orig_record = B._Ledger.record

    def boom(self, stage, n_rows, started):
        if stage == "lexicon":
            raise RuntimeError("simulated crash before lexicon commit")
        return orig_record(self, stage, n_rows, started)

    B._Ledger.record = boom
    try:
        with pytest.raises(RuntimeError):
            B.build_index(corpus, out, fields=("content",), block_size=32,
                          run_id="r1")
    finally:
        B._Ledger.record = orig_record

    done_before = _mtimes(os.path.join(out, "postings"))
    assert done_before, "postings must have committed before the crash"

    time.sleep(1.1)
    stats = B.build_index(corpus, out, fields=("content",), block_size=32,
                          run_id="r1", resume=True)
    assert stats["n_docs"] == 300

    # completed stages were NOT rewritten (byte-stable files)
    assert _mtimes(os.path.join(out, "postings")) == done_before

    # resumed output identical to a clean build
    clean = str(tmp_path / "clean")
    B.build_index(corpus_df(spark, 300, partitions=7), clean,
                  fields=("content",), block_size=32, run_id="r2")
    for table in ("lexicon",):
        a = (spark.read.parquet(f"{out}/{table}").toPandas()
             .sort_values(spark.read.parquet(f"{out}/{table}").columns)
             .reset_index(drop=True))
        b = (spark.read.parquet(f"{clean}/{table}").toPandas()
             .sort_values(spark.read.parquet(f"{clean}/{table}").columns)
             .reset_index(drop=True))
        assert a.equals(b), table
    assert snapshot.load(out)["stats"] == snapshot.load(clean)["stats"]

    from lucille_spark.query.searcher import IndexSearcher

    assert IndexSearcher(out).search("content:test", 5) == \
        IndexSearcher(clean).search("content:test", 5)


def test_resume_noop_when_complete(spark, tmp_path):
    import lucille_spark.index.builder as B
    from lucille_spark.corpus import corpus_df

    out = str(tmp_path / "idx2")
    B.build_index(corpus_df(spark, 200, partitions=3), out,
                  fields=("content",), run_id="r1")
    before = _mtimes(out)
    time.sleep(1.1)
    stats = B.build_index(corpus_df(spark, 200, partitions=3), out,
                          fields=("content",), run_id="r1", resume=True)
    assert stats["n_docs"] == 200
    assert _mtimes(out) == before  # nothing rewritten


def test_lineage_metrics_rows(spark, tmp_path):
    """A build and a merge record the same stages, one row each."""
    import lucille_spark.index.builder as B
    from lucille_spark.corpus import corpus_df
    from lucille_spark.index.merge import merge_index

    out = str(tmp_path / "idx3")
    B.build_index(corpus_df(spark, 200, partitions=3), out,
                  fields=("content",), run_id="r9")
    merge_index(corpus_df(spark, 20, partitions=1), out, run_id="m9")
    lin = spark.read.parquet(f"{out}/_lineage").toPandas()
    for run_id in ("r9", "m9"):
        stages = sorted(lin[lin.run_id == run_id].stage)
        assert stages == ["corpus_stats", "doc_stats", "lexicon",
                          "postings"], run_id
    assert (lin.seconds >= 0).all()
    assert (lin.status == "complete").all()


def _cache_is_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_failed_build_restores_session(spark, tmp_path, aqe):
    """A build that fails leaves AQE as it found it and nothing cached."""
    import numpy as np

    from lucille_spark.corpus import corpus_pdf
    from lucille_spark.index.builder import build_index

    corpus = spark.createDataFrame(
        corpus_pdf(np.arange(20)).drop(columns=["content"]))
    spark.catalog.clearCache()
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    try:
        with pytest.raises(Exception, match="content"):
            build_index(corpus, str(tmp_path / "idx"))
        assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
        assert _cache_is_empty(spark)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_failed_merge_restores_session(spark, tmp_path, aqe):
    """A merge that fails (its deletes frame has no doc_id column) leaves
    AQE as it found it and unpersists the delta it had cached."""
    import numpy as np

    from lucille_spark.corpus import corpus_pdf
    from lucille_spark.index.builder import build_index
    from lucille_spark.index.merge import merge_index

    idx = str(tmp_path / "idx")
    build_index(spark.createDataFrame(corpus_pdf(np.arange(20))), idx)
    delta = spark.createDataFrame(corpus_pdf(np.arange(20, 25)))
    bad_deletes = spark.createDataFrame([("x",)], "id string")
    spark.catalog.clearCache()
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    try:
        with pytest.raises(Exception, match="doc_id"):
            merge_index(delta, idx, deletes=bad_deletes)
        assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
        assert _cache_is_empty(spark)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
