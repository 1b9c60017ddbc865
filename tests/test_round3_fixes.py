"""Round-3 fixes: ADVICE r2 bugs (JSONata ternary precedence, ChunkText
empty/degenerate inputs, crash-safe lexicon swap, legacy sink migration
cleanup) and VERDICT r2 items (join-mode ExtractEntities parity + plan-size
bound, O(n) chunk offsets, agg-side tombstones)."""

import os

import pytest
from pyspark.sql import functions as F

from lucille_spark.pipeline.conditions import CHILDREN
from lucille_spark.pipeline.jsonata import Expression
from lucille_spark.pipeline.stages import ChunkText, ExtractEntities


# --------------------------------------------------------------- JSONata ?:
def test_jsonata_ternary_lowest_precedence():
    # ADVICE r2 (high): `?` must bind LOOSER than every binary operator
    assert Expression('a = 1 ? "one" : "other"')({"a": 1}) == "one"
    assert Expression('a = 1 ? "one" : "other"')({"a": 2}) == "other"
    assert Expression('a > 5 ? "big" : "small"')({"a": 3}) == "small"
    assert Expression('a > 5 ? "big" : "small"')({"a": 7}) == "big"
    # nested (right-assoc) conditionals
    assert Expression('a = 1 ? "one" : a = 2 ? "two" : "other"')(
        {"a": 2}) == "two"
    # arithmetic fully consumed before the conditional
    assert Expression('a + 1 > 2 * 2 ? "yes" : "no"')({"a": 4}) == "yes"


# --------------------------------------------------------------- ChunkText
def _chunks(df):
    return (df.select(F.explode(F.coalesce(
        F.col(CHILDREN), F.array().cast(df.schema[CHILDREN].dataType)))
        .alias("c")).select("c.*"))


def test_chunk_merge_overlap_fewer_pieces_than_overlap(spark):
    # ADVICE r2 (high): 2 chunks with merge_k=3/overlap_k=2 used to build a
    # DESCENDING sequence and abort the job; the reference returns []
    df = spark.createDataFrame(
        [("d1", " ".join(f"w{i}" for i in range(40)))], "id string, text string")
    st = ChunkText(source="text", mode="fixed", chunk_size=20,
                   merge_k=3, overlap_k=2)
    out = st.apply(df)
    rows = _chunks(out).collect()
    assert rows == []  # empty children, job survives
    # and a healthy input still windows correctly
    df2 = spark.createDataFrame(
        [("d2", " ".join(f"w{i}" for i in range(100)))], "id string, text string")
    rows2 = _chunks(st.apply(df2)).collect()
    assert len(rows2) == 3  # 5 pieces, stride 1 windows of 3 -> 3
    assert all(len(r.chunk_text.split()) == 60 for r in rows2)


def test_chunk_fixed_chars_empty_input(spark):
    # ADVICE r2 (medium): empty string -> numOfChunks=0 -> NO children
    df = spark.createDataFrame([("d1", ""), ("d2", "abcdef")],
                               "id string, text string")
    st = ChunkText(source="text", mode="fixed_chars", chunk_size=4)
    rows = _chunks(st.apply(df)).collect()
    ids = {r.id for r in rows}
    assert ids == {"d2-chunk1", "d2-chunk2"}
    assert sorted(r.chunk_text for r in rows) == ["abcd", "ef"]


def test_chunk_offsets_prefix_sum_many_chunks(spark):
    # offsets = running sum over chunk lengths, ONE pass (VERDICT r2 #8)
    words = " ".join(f"word{i:04d}" for i in range(400))
    df = spark.createDataFrame([("d", words)], "id string, text string")
    st = ChunkText(source="text", mode="fixed", chunk_size=5)
    rows = _chunks(st.apply(df)).orderBy("chunk_number").collect()
    assert len(rows) == 80
    expect = 0
    for r in rows:
        assert r.offset == expect
        expect += r.length
    assert rows[0].total_chunks == 80
    # temp columns must not leak into the output schema
    out_cols = set(st.apply(df).columns)
    assert "_ct_pieces" not in out_cols and "_ct_offsets" not in out_cols


# ------------------------------------------------- ExtractEntities join mode
DICT = {
    "window": "UI", "key order": "PHRASE", "vector": "VEC",
    "hash": "H", "merge sort key": "LONG", "sort key": "SK",
    "key": "K", "nonexistentterm": "NOPE",
}


def _entity_frame(spark):
    rows = [
        ("a", "the window holds a key order for merge sort key ops"),
        ("b", "vector hash vector"),
        ("c", "no matches here at all"),
        ("d", "sort key appears and window too"),
        ("e", "key alone"),
    ]
    return spark.createDataFrame(rows, "id string, text string")


@pytest.mark.parametrize("opts", [
    {},
    {"ignore_overlaps": True},
    {"stop_on_hit": True},
    {"use_payloads": False},
    {"ignore_overlaps": True, "stop_on_hit": True},
])
def test_extract_entities_join_matches_expr(spark, opts):
    df = _entity_frame(spark)
    expr = ExtractEntities(source="text", dictionary=DICT,
                           use_join=False, **opts).apply(df)
    join = ExtractEntities(source="text", dictionary=DICT,
                           use_join=True, **opts).apply(df)
    e = {r.id: list(r.entities) for r in expr.collect()}
    j = {r.id: list(r.entities) for r in join.collect()}
    assert e == j


def test_extract_entities_join_plan_size_bounded(spark):
    """5k-entry dictionary: the join path's plan must NOT grow one
    expression per entry, and must stay JVM-side (no Python eval)."""
    big = {f"syn{i}": f"P{i}" for i in range(5000)}
    big.update(DICT)
    df = _entity_frame(spark)
    st = ExtractEntities(source="text", dictionary=big)  # auto -> join
    out = st.apply(df)
    j = {r.id: list(r.entities) for r in out.collect()}
    e = {r.id: list(r.entities)
         for r in ExtractEntities(source="text", dictionary=DICT,
                                  use_join=False).apply(df).collect()}
    assert j == e  # 5k misses change nothing
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert len(plan) < 100_000  # an expr-per-entry tree would be megabytes
    assert "Broadcast" in plan


def test_extract_entities_join_without_id(spark):
    """r4: frames with NO id column work in join mode via a surrogate key
    over a lazily checkpointed base (previously a ValueError)."""
    df = spark.createDataFrame(
        [("the hash join wins",), ("nothing here",)], "text string")
    st = ExtractEntities(source="text", dictionary=DICT, use_join=True)
    out = {r.text: list(r.entities) for r in st.apply(df).collect()}
    assert out["nothing here"] == []
    assert len(out["the hash join wins"]) >= 1


# ------------------------------------------- legacy sink migration cleanup
def test_index_sink_legacy_migration_drops_root_files(spark, tmp_path):
    from lucille_spark.sinks.index_sink import IndexSink

    table = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(str(i), f"v{i}") for i in range(20)], "id string, val string"
    ).write.parquet(table)  # legacy unbucketed layout
    sink = IndexSink(table_dir=table, n_buckets=4)
    sink.upsert(spark.createDataFrame([("3", "updated")],
                                      "id string, val string"))
    root_files = [f for f in os.listdir(table)
                  if os.path.isfile(os.path.join(table, f))]
    assert root_files == []  # pre-migration part files gone (ADVICE r2)
    back = spark.read.parquet(table)
    assert back.count() == 20
    assert back.filter("id = '3'").collect()[0]["val"] == "updated"


# ------------------------------------------- dedup hash-ids scale path
def test_dedup_hash_ids_same_verdicts(spark, tmp_path):
    """VERDICT r2 #3: the hash_ids scale path (inline xxhash64 token ids,
    NO dictionary join/broadcast) must reach the same near-dup verdicts as
    the dense sorted-dictionary default on the same corpus."""
    from lucille_spark.ml.dedup import (lsh_candidate_pairs,
                                        minhash_signatures, simhash,
                                        verify_candidate_pairs)

    base = [("python spark index merge shuffle partition broadcast join "
             "skew salt codec posting block wand bm25 score rank"),
            ("java lucene segment merge policy tiered compaction flush "
             "commit refresh searcher reader directory codec"),
            ("completely different text about giraffes and koalas eating "
             "leaves in the savanna under a warm sun all day")]
    rows = []
    for i, t in enumerate(base):
        rows.append((i * 10, t))
        rows.append((i * 10 + 1, t + " extra token"))        # near-dup
        rows.append((i * 10 + 2, t.replace("merge", "blend")))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def verdicts(hash_ids):
        sigs = minhash_signatures(df, "doc_id", "text", 8,
                                  hash_ids=hash_ids)
        cands = lsh_candidate_pairs(sigs, 8, band_size=2)
        ver = verify_candidate_pairs(df, cands, "doc_id", "text", n=3,
                                     threshold=0.3)
        return {(r.doc_a, r.doc_b): round(r.jaccard, 6)
                for r in ver.collect()}

    dense, hashed = verdicts(False), verdicts(True)
    assert dense == hashed and len(dense) >= 3

    # the scale path's plan must contain NO join (dictionary is gone)
    sigs_plan = minhash_signatures(df, "doc_id", "text", 8, hash_ids=True) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in sigs_plan
    sim_plan = simhash(df, "doc_id", "text", hash_ids=True) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in sim_plan
    # and simhash verdicts agree bit-for-bit across runs of the same mode
    s1 = {r.doc_id: r.simhash
          for r in simhash(df, "doc_id", "text", hash_ids=True).collect()}
    s2 = {r.doc_id: r.simhash
          for r in simhash(df, "doc_id", "text", hash_ids=True).collect()}
    assert s1 == s2


# --------------------------------------------------------------- compact()
def test_compact_matches_fresh_build(spark, tmp_path):
    """VERDICT r2 #4: after merges with upserts+deletes, compact() over the
    live corpus must equal a from-scratch build table-for-table (lexicon /
    corpus stats / doc_stats / postings), tombstones gone, and the merged
    index must agree with the compacted one on live-doc results."""
    import hashlib

    from lucille_spark.corpus import CORPUS_SCHEMA, corpus_df
    from lucille_spark.index import snapshot
    from lucille_spark.index.builder import build_index
    from lucille_spark.index.merge import compact, merge_index
    from lucille_spark.query.searcher import IndexSearcher

    idx = str(tmp_path / "idx")
    full = corpus_df(spark, 120, partitions=4)
    build_index(full, idx, block_size=32, docs_per_salt=64)
    rows = full.collect()

    def did(r):
        return hashlib.sha256(
            f"{r.repo}\x00{r.path}\x00{r.commit}".encode()).hexdigest()

    up1 = spark.createDataFrame(
        [(r.repo, r.path, r.commit, r.lang, r.content + " zzznew alpha")
         for r in rows[:3]], CORPUS_SCHEMA)
    merge_index(up1, idx, block_size=32, docs_per_salt=64, run_id="m1")
    dels = spark.createDataFrame([(did(r),) for r in rows[3:5]],
                                 "doc_id string")
    up2 = spark.createDataFrame(
        [(r.repo, r.path, r.commit, r.lang, r.content + " zzznew beta")
         for r in rows[5:7]], CORPUS_SCHEMA)
    merge_index(up2, idx, deletes=dels, block_size=32, docs_per_salt=64,
                run_id="m2")

    live_rows = []
    for i, r in enumerate(rows):
        if i in (3, 4):
            continue
        c = r.content + (" zzznew alpha" if i < 3
                         else (" zzznew beta" if i in (5, 6) else ""))
        live_rows.append((r.repo, r.path, r.commit, r.lang, c))
    live = spark.createDataFrame(live_rows, CORPUS_SCHEMA)

    cdir, fdir = str(tmp_path / "compacted"), str(tmp_path / "fresh")
    compact(idx, live, cdir, block_size=32, docs_per_salt=64)
    build_index(live, fdir, block_size=32, docs_per_salt=64)

    for tbl in ("lexicon", "doc_stats", "postings"):
        a = sorted(map(tuple, spark.read.parquet(f"{cdir}/{tbl}").collect()))
        b = sorted(map(tuple, spark.read.parquet(f"{fdir}/{tbl}").collect()))
        assert a == b, f"{tbl} differs between compact() and fresh build"
    assert snapshot.load(cdir)["stats"] == snapshot.load(fdir)["stats"]
    assert not os.path.exists(os.path.join(cdir, "_tombstones"))

    sc, sf, sm = IndexSearcher(cdir), IndexSearcher(fdir), IndexSearcher(idx)
    expect_ids = {did(rows[i]) for i in (0, 1, 2, 5, 6)}
    hits_c = sc.search("content:zzznew", 10)
    assert {h[0] for h in hits_c} == expect_ids
    assert hits_c == sf.search("content:zzznew", 10)  # byte-identical index
    # merged (tombstoned) index returns the same LIVE docs (scores differ:
    # its df/cf still count dead postings until compaction, like Lucene)
    assert {h[0] for h in sm.search("content:zzznew", 10)} == expect_ids


# ------------------------------------------------------------- IVF-flat ANN
def test_ivf_topk_recall_and_partition_shape(spark, tmp_path):
    """IVF-flat: nprobe=n_lists must equal brute force exactly; small
    nprobe returns a subset ranked identically on the candidates."""
    import numpy as np

    from lucille_spark.ml.similarity import (cosine_topk, ivf_assign,
                                             ivf_topk, sample_centroids)

    rng = [(i, [float(((i * 37 + j * 11) % 97) - 48) / 48.0
                for j in range(16)]) for i in range(200)]
    df = spark.createDataFrame(rng, "vec_id long, embedding array<float>")
    q = rng[5][1]
    cents = sample_centroids(df, "vec_id", "embedding", n_lists=4)
    assert cents.count() == 4

    # full probe == brute force
    full = ivf_topk(df, q, "vec_id", "embedding", k=10, n_lists=4,
                    nprobe=4, centroids=cents).collect()
    brute = cosine_topk(df, q, "vec_id", "embedding", k=10).collect()
    assert [(r.vec_id, r.cosine) for r in full] == \
        [(r.vec_id, r.cosine) for r in brute]

    # small probe: results are a subset of the corpus assigned to the
    # probed lists, and every vector lands in exactly one list
    asg = ivf_assign(df, "vec_id", "embedding", cents)
    assert asg.count() == 200
    assert asg.select("vec_id").distinct().count() == 200
    assert asg.groupBy("list_id").count().count() <= 4
    part = ivf_topk(df, q, "vec_id", "embedding", k=10, n_lists=4,
                    nprobe=1, centroids=cents).collect()
    brute_ids = [r.vec_id for r in brute]
    got = {r.vec_id: r.cosine for r in part}
    bru = {r.vec_id: r.cosine for r in brute}
    for vid in got:
        if vid in bru:
            assert got[vid] == bru[vid]   # same exact cosine on overlap
    # top-1 (the query vector itself) must be found even at nprobe=1
    assert part[0].vec_id == brute_ids[0]


def test_srp_bucket_pandas_matches_expression(spark):
    """The matmul bucket (scale path for high dims) must equal the
    expression bucket bit-for-bit."""
    from pyspark.sql import functions as F

    from lucille_spark.ml.similarity import (hyperplanes, srp_bucket,
                                             srp_bucket_pandas)

    rows = [(i, [float(((i * 13 + j * 7) % 31) - 15) / 15.0
                 for j in range(16)]) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = hyperplanes(8, 16)
    both = df.select(
        "vec_id",
        srp_bucket(F.col("embedding"), planes).alias("expr_b"),
        srp_bucket_pandas(F.col("embedding"), planes).alias("mm_b"))
    bad = both.filter(F.col("expr_b") != F.col("mm_b")).count()
    assert bad == 0


# ------------------------------------------------------------- PrefixQuery
def test_prefix_query_parse_and_expand():
    from lucille_spark.query.parser import (Or, Prefix, QueryParseError,
                                            Term, expand_prefixes, parse)

    node = parse("content:spa*")
    assert node == Prefix("content", "spa", 1.0)
    assert parse("SPA*") == Prefix("content", "spa", 1.0)  # lowercased
    boosted = parse("content:spa*^2")
    assert boosted == Prefix("content", "spa", 2.0)
    # r4: leading/mid-token stars are now first-class Wildcard nodes
    from lucille_spark.query.parser import Wildcard

    assert parse("content:*abc") == Wildcard("content", "*abc", 1.0)
    assert parse("content:a*b") == Wildcard("content", "a*b", 1.0)

    exp = expand_prefixes(node, lambda f, p: ["spark", "spam", "spat"])
    assert isinstance(exp, Or)
    assert [t.text for t in exp.children] == ["spam", "spark", "spat"]
    # nothing matches -> impossible term (outside the analyzer alphabet)
    nothing = expand_prefixes(node, lambda f, p: [])
    assert isinstance(nothing, Term) and "\x00" in nothing.text
    # cap: first max_expansions in ascending order
    capped = expand_prefixes(node, lambda f, p: [f"sp{i:03d}" for i in
                                                 range(300)],
                             max_expansions=5)
    assert len(capped.children) == 5


def test_prefix_query_rank_identity(index_dir, oracle):
    """Index WAND path vs the pure-Python oracle on prefix queries —
    identical ranked ids and scores (the F1 corpus has rich ident_*
    prefixes, so the expansion is wide)."""
    from lucille_spark.query.searcher import IndexSearcher

    searcher = IndexSearcher(index_dir)
    for q in ("content:gir*", "content:ret* OR content:imp*",
              "content:koal*", "content:ident_1*",
              "content:ret* AND content:if"):
        got = searcher.search(q, k=10)
        want = oracle.search(q, k=10)
        assert [g[0] for g in got] == [w[0] for w in want], q
        for (gd, gs), (wd, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, q
    # boolean match semantics with prefixes
    assert searcher.match("content:koal*") == oracle.match_query(
        "content:koal*")
    # prefix matching nothing -> no hits, no crash
    assert searcher.search("content:zzzznope*", k=5) == []


# --------------------------------- DictionaryLookup / Contains join modes
def test_dictionary_lookup_join_matches_expr(spark):
    from lucille_spark.pipeline.stages import DictionaryLookup

    d = {"apple": "FRUIT", "carrot": "VEG", "dog": "PET"}
    # scalar source
    df = spark.createDataFrame(
        [("a", "apple"), ("b", "stone"), ("c", None)],
        "id string, word string")
    for opts in ({}, {"use_join": True}):
        st = DictionaryLookup(source="word", dest="kind", dictionary=d,
                              **opts)
        got = {r.id: r.kind for r in st.apply(df).collect()}
        assert got == {"a": "FRUIT", "b": None, "c": None}, opts
    # array source: element order kept, misses filtered, null stays null
    df2 = spark.createDataFrame(
        [("a", ["dog", "stone", "apple"]), ("b", ["x"]), ("c", None),
         ("d", [])],
        "id string, words array<string>")
    expr = DictionaryLookup(source="words", dest="kinds", dictionary=d,
                            use_join=False).apply(df2)
    join = DictionaryLookup(source="words", dest="kinds", dictionary=d,
                            use_join=True).apply(df2)
    e = {r.id: (list(r.kinds) if r.kinds is not None else None)
         for r in expr.collect()}
    j = {r.id: (list(r.kinds) if r.kinds is not None else None)
         for r in join.collect()}
    assert e == j == {"a": ["PET", "FRUIT"], "b": [], "c": None, "d": []}
    # big dictionary auto-switches and the plan stays bounded
    big = {f"w{i}": f"p{i}" for i in range(2000)}
    big.update(d)
    st = DictionaryLookup(source="words", dest="kinds", dictionary=big)
    out = st.apply(df2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 60_000 and "Broadcast" in plan
    assert {r.id: (list(r.kinds) if r.kinds is not None else None)
            for r in out.collect()} == e


def test_contains_join_matches_rlike(spark):
    from lucille_spark.pipeline.stages import Contains

    df = spark.createDataFrame(
        [("a", "the Dog barks", "x"), ("b", "nothing here", "cat nip"),
         ("c", "dogmatic is not dog", "y"), ("d", "no", "no")],
        "id string, f1 string, f2 string")
    vals = ["Dog", "cat"]
    expr = Contains(fields=["f1", "f2"], values=vals, dest="tag",
                    use_join=False).apply(df)
    join = Contains(fields=["f1", "f2"], values=vals, dest="tag",
                    use_join=True).apply(df)
    e = {r.id: r.tag for r in expr.collect()}
    j = {r.id: r.tag for r in join.collect()}
    # 'dogmatic' must NOT match (whole word); case-sensitive like the rlike
    assert e == j == {"a": "match", "b": "match", "c": None, "d": None}


# ------------------------------------------------------ robustness extras
def test_htmlsel_never_crashes_on_hostile_html():
    """The selector engine must survive arbitrary malformed HTML (hypothesis
    fuzz over a tag-soup alphabet) — parse errors may lose content, never
    raise."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lucille_spark.pipeline.htmlsel import select_html

    soup = st.text(
        alphabet="<>/ab c=\"'!&;-x1#.\n", min_size=0, max_size=200)

    @settings(max_examples=200, deadline=None)
    @given(soup)
    def run(html):
        for sel, typ in (("a", "text"), ("div.x", "html"),
                         ("#x", "outerHtml"), ("a[href]", "text")):
            out = select_html(html, sel, typ)
            assert out is None or all(isinstance(x, str) for x in out)
        out = select_html(html, "a", "attribute", "href")
        assert out is None or all(isinstance(x, str) for x in out)

    run()


def test_chunk_text_many_chunks_timing(spark):
    """VERDICT r2 #8 sanity: a 2,000-chunk document chunks in linear time
    (the old per-chunk prefix re-aggregation was O(n^2) inside an
    interpreted HOF — minutes at this size)."""
    import time

    words = " ".join(f"w{i}" for i in range(10_000))
    df = spark.createDataFrame([("d", words)], "id string, text string")
    st_ = ChunkText(source="text", mode="fixed", chunk_size=5)
    t0 = time.time()
    rows = _chunks(st_.apply(df)).collect()
    elapsed = time.time() - t0
    assert len(rows) == 2000
    assert rows[-1].offset == sum(r.length for r in rows[:-1])
    assert elapsed < 60, f"2k-chunk doc took {elapsed:.1f}s"


# -------------------------------------------------------------- FuzzyQuery
def test_fuzzy_query_parse_and_rank_identity(index_dir, oracle):
    from lucille_spark.query.parser import (Fuzzy, QueryParseError,
                                            levenshtein, parse)
    from lucille_spark.query.searcher import IndexSearcher

    assert parse("content:giraffe~") == Fuzzy("content", "giraffe", 2, 1.0)
    assert parse("giraffe~1").max_edits == 1
    with pytest.raises(QueryParseError):
        parse("content:abc~3")
    assert levenshtein("kitten", "sitting") == 3

    searcher = IndexSearcher(index_dir)
    for q in ("content:girafe~", "content:koala~1",
              "content:retur~1 OR content:impor~1",
              "content:giraffe~1 AND content:test"):
        got = searcher.search(q, k=10)
        want = oracle.search(q, k=10)
        assert [g[0] for g in got] == [w[0] for w in want], q
        for (gd, gs), (wd, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, q
    assert searcher.match("content:koala~1") == oracle.match_query(
        "content:koala~1")
    assert searcher.search("content:qqqqqqqqq~1", k=5) == []
