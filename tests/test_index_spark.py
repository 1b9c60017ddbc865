"""End-to-end index-plane tests: build → invariants → rank identity.

The rank-identity contract (SURVEY.md §2.9 / FIXTURES.md F2): block-max WAND
and every other physical strategy must return the same top-k docIDs and
scores as the exhaustive NumPy oracle, tie-broken by (score desc, doc_id asc).
"""

import hashlib
import math

import pytest

QUERIES = [
    "content:test AND content:giraffe",
    "content:test OR content:giraffe",
    "content:geotrans AND -(content:japan OR content:jp)",
    "lang:python AND content:import",
    'content:"import test"',
    "content:koala",
    "content:return",
    "content:ident_collide",
    "content:return OR content:import OR content:if",
    "content:term30 OR content:term100",
    "content:term30 AND content:if",
    "content:giraffe",
    # r4 multi-term family: range / wildcard / field grouping, each
    # rank-identical between block-max WAND, exhaustive, and the oracle
    "content:[raise TO return]",
    "content:{raise TO with}",
    "content:[* TO class]",
    "content:r?turn",
    "content:imp*t",
    "content:*ield",
    "content:(return OR import) AND content:if",
    'content:"import return"~2',     # transposed planted phrase
    'content:"return import"~1',
    # r6 unary + (MUST): must clauses decide the match, shoulds score
    "content:test +content:giraffe",
    "+content:return content:import",
    "+content:return +content:import content:if",
    "content:test +content:giraffe -content:japan",
    "+content:imp*t content:return",
]


@pytest.fixture(scope="module")
def searcher(index_dir):
    from lucille_spark.query.searcher import IndexSearcher

    return IndexSearcher(index_dir)


def test_sha256_ingest_invariant(spark, index_dir, tiny_corpus_pdf):
    stats = spark.read.parquet(f"{index_dir}/doc_stats").toPandas()
    assert len(stats) == len(tiny_corpus_pdf)
    expect = {}
    for _, r in tiny_corpus_pdf.iterrows():
        did = hashlib.sha256(
            f"{r.repo}\x00{r.path}\x00{r.commit}".encode()).hexdigest()
        expect[did] = hashlib.sha256(r.content.encode()).hexdigest()
    got = dict(zip(stats.doc_id, stats.content_sha256))
    assert got == expect


def test_doc_ord_dense_and_id_ordered(spark, index_dir):
    stats = spark.read.parquet(f"{index_dir}/doc_stats").toPandas()
    s = stats.sort_values("doc_ord")
    assert list(s.doc_ord) == list(range(len(s)))
    assert list(s.doc_id) == sorted(s.doc_id)  # ord order == id order


def test_build_refuses_repeated_doc_ids(spark, tmp_path):
    """A repeated (repo, path, commit) would get one ordinal per row, and
    the ordinal join back would multiply its rows (21 rows with one repeat
    gave 23 doc_stats rows on 21 ordinals): the build refuses it before it
    writes, and names merge_index's last-wins path."""
    import pandas as pd

    from lucille_spark.corpus import corpus_pdf
    from lucille_spark.index import snapshot
    from lucille_spark.index.builder import build_index

    pdf = corpus_pdf(list(range(20)))
    pdf = pd.concat([pdf, pdf.iloc[[7]]], ignore_index=True)
    out = str(tmp_path / "idx")
    with pytest.raises(ValueError, match=r"^1 rows repeat .*order_col"):
        build_index(spark.createDataFrame(pdf), out)
    assert snapshot.latest(out) is None


def test_corpus_stats_match_oracle(index_dir, oracle):
    from lucille_spark.index import snapshot

    cs = snapshot.load(index_dir)["stats"]
    assert cs["content"]["n_docs"] == oracle.n_docs
    assert math.isclose(cs["content"]["avgdl"], oracle.avgdl["content"],
                        rel_tol=1e-12)


def test_lexicon_matches_oracle(spark, index_dir, oracle):
    lex = spark.read.parquet(f"{index_dir}/lexicon")
    rows = lex.filter("field = 'content'").collect()
    lex_df = {r["term"]: r["df"] for r in rows}
    oracle_df = {t: len(p) for t, p in oracle.postings["content"].items()}
    assert lex_df == oracle_df
    lex_cf = {r["term"]: r["cf"] for r in rows}
    oracle_cf = {t: sum(len(v) for v in p.values())
                 for t, p in oracle.postings["content"].items()}
    assert lex_cf == oracle_cf


def test_salting_engaged(spark, index_dir):
    # hot terms (cf > docs_per_salt=64) must be split across >1 salt
    from pyspark.sql import functions as F

    post = spark.read.parquet(f"{index_dir}/postings")
    salted = (post.groupBy("field", "term")
              .agg(F.countDistinct("salt").alias("n_salts"),
                   F.sum("sum_tf").alias("cf")))
    hot = salted.filter("cf > 130").collect()
    assert hot, "corpus should have hot terms"
    assert all(r["n_salts"] > 1 for r in hot)
    cold = salted.filter("cf <= 64").collect()
    assert all(r["n_salts"] == 1 for r in cold)


@pytest.mark.parametrize("query", QUERIES)
def test_rank_identity_wand_vs_oracle(searcher, oracle, query):
    got = searcher.search(query, k=10)
    want = oracle.search(query, k=10)
    assert [d for d, _ in got] == [d for d, _ in want], query
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9), query


@pytest.mark.parametrize("query", QUERIES)
def test_rank_identity_exhaustive_vs_oracle(searcher, oracle, query):
    got = searcher.search_exhaustive(query, k=10)
    want = oracle.search(query, k=10)
    assert [d for d, _ in got] == [d for d, _ in want], query
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9), query


def test_boolean_match_parity(searcher, oracle):
    for q in ["content:giraffe AND content:test",
              "content:geotrans AND -(content:japan OR content:jp)",
              'content:"import test"']:
        assert searcher.match(q) == oracle.match_query(q), q


def test_tie_break_by_doc_id(searcher, oracle):
    hits = searcher.search("content:ident_collide", k=10)
    assert len(hits) == 10
    scores = [s for _, s in hits]
    # planted collide docs share dl and tf → identical scores
    assert max(scores) - min(scores) < 1e-12
    ids = [d for d, _ in hits]
    assert ids == sorted(ids)


def test_batch_search_matches_driver(spark, index_dir, searcher):
    from lucille_spark.query.executor_df import search_batch

    qs = [("q1", "content:test OR content:giraffe"),
          ("q2", "content:return"),
          ("q3", "lang:python AND content:import")]
    got = search_batch(spark, index_dir, qs, k=5).toPandas()
    for qid, q in qs:
        sub = got[got.query_id == qid].sort_values("rank")
        want = searcher.search(q, k=5)
        assert list(sub.doc_id) == [d for d, _ in want]


def test_bm25_df_executor_matches_oracle(spark, tiny_corpus_pdf, oracle):
    from lucille_spark.index.builder import add_doc_identity
    from lucille_spark.query.executor_df import bm25_query_df

    corpus = add_doc_identity(spark.createDataFrame(tiny_corpus_pdf))
    res = bm25_query_df(corpus, "doc_id", "content",
                        ["test", "giraffe"], k=10, mode="or",
                        score_decimals=6).toPandas()
    want = oracle.search("content:test OR content:giraffe", k=10)
    assert list(res.doc_id) == [d for d, _ in want]
    for gs, (_, ws) in zip(res.score, want):
        assert math.isclose(gs, round(ws, 6), abs_tol=2e-6)
