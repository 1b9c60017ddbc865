"""Round-4 fixes: bounded fuzzy expansion, readers during merges,
non-Latin language ID, search_batch cold-fan-out bound, hash-ids dedup as
the oracle-verified default (VERDICT r3 next-round items + ADVICE r3)."""

import os

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------ fuzzy expansion is bounded
def test_fuzzy_expansion_bounded_and_correct(index_dir):
    """VERDICT r3 'What's wrong' #1: terms_fuzzy must not Levenshtein the
    whole dictionary. The length band runs inside the Arrow scan and the
    bag-distance prefilter cuts the survivors further; results must equal
    the brute-force scan's closest-first list."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lucille_spark.index import snapshot
    from lucille_spark.index.reader import IndexReader
    from lucille_spark.query.parser import levenshtein

    rd = IndexReader(index_dir)
    lex = pa.concat_tables([
        pq.read_table(p, columns=["term", "field"])
        for p in snapshot.paths(index_dir, rd.manifest, "lexicon")])
    all_terms = [t for t, f in zip(lex["term"].to_pylist(),
                                   lex["field"].to_pylist())
                 if f == "content"]
    n_lexicon = len(all_terms)
    assert n_lexicon > 20

    for q, max_edits in [("return", 1), ("import", 2), ("class", 1)]:
        got = rd.terms_fuzzy("content", q, max_edits=max_edits, limit=50)
        brute = sorted(
            (levenshtein(q, t, cap=max_edits), t) for t in set(all_terms)
            if levenshtein(q, t, cap=max_edits) <= max_edits)
        assert got == [t for _, t in brute[:50]], q
        stats = rd._fuzzy_stats
        # the length band must exclude a decent share of the dictionary,
        # and the DP only runs on bag-distance survivors
        assert stats["banded"] < n_lexicon
        assert stats["bag_survivors"] <= stats["banded"]
        assert stats["bag_survivors"] <= max(10, n_lexicon // 2), (
            q, stats, n_lexicon)


# ------------------------------------------------ non-Latin language ID
LANG_FIXTURES = [
    ("这是一个用于测试的中文文档包含很多汉字", "zh"),
    ("これはテストのための日本語の文書です", "ja"),
    ("이것은테스트를위한한국어문서입니다", "ko"),
    ("هذا مستند باللغة العربية للاختبار", "ar"),
    ("זהו מסמך בעברית לבדיקה", "he"),
    ("Это русский документ для тестирования", "ru"),
    ("Αυτό είναι ελληνικό έγγραφο για δοκιμή", "el"),
    ("the quick brown fox and the lazy dog in the field", "en"),
    ("日本語の文書テスト済み", "ja"),   # kanji-heavy, kana present
]


def test_detect_language_scripts(spark):
    """VERDICT r3 #5: non-Latin scripts via Unicode block counts — zh/ja/
    ko/ar/ru/he/el detected, kana disambiguates ja from zh, Latin falls
    back to the stopword profiles."""
    from lucille_spark.pipeline.stages import DetectLanguage

    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(LANG_FIXTURES)],
        "doc_id long, text string")
    out = DetectLanguage(source="text", min_length=5).apply(df)
    got = {r.doc_id: (r.language, r.language_confidence)
           for r in out.collect()}
    for i, (_, want) in enumerate(LANG_FIXTURES):
        lang, conf = got[i]
        assert lang == want, (i, lang, want)
        assert conf is not None and conf > 0.0


def test_language_scores_scripts(spark):
    from lucille_spark.ml.textstats import language_scores

    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(LANG_FIXTURES)],
        "doc_id long, text string")
    got = {r.doc_id: r.predicted
           for r in language_scores(df, "doc_id", "text").collect()}
    for i, (_, want) in enumerate(LANG_FIXTURES):
        assert got[i] == want, (i, got[i], want)


# ------------------------------------- search_batch cold fan-out bound
def test_search_batch_groups_small_batches(spark, index_dir):
    """VERDICT r3 'What's wrong' #3: a 30-query batch must not open 30
    cold searchers — it runs as one task, since a task takes up to
    QUERIES_PER_TASK queries. Results stay identical to per-query
    search."""
    from lucille_spark.query.executor_df import search_batch
    from lucille_spark.query.searcher import IndexSearcher

    queries = [(f"q{i}", "content:return OR content:import")
               for i in range(30)]
    df = search_batch(spark, index_dir, queries, k=5)
    assert df.rdd.getNumPartitions() == 1
    got = df.collect()
    assert len(got) == 30 * 5
    searcher = IndexSearcher(index_dir, "content")
    want = searcher.search("content:return OR content:import", 5)
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id))
    for qid, rows in by_q.items():
        assert [d for _, d in sorted(rows)] == [d for d, _ in want], qid


# --------------------------- hash-ids dedup is the default and joinless
def test_dedup_defaults_are_joinless(spark):
    from lucille_spark.ml.dedup import minhash_signatures, simhash
    from lucille_spark.ml.textstats import fingerprints

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")],
        "doc_id long, text string")
    for fn in (lambda: minhash_signatures(df, "doc_id", "text", 8),
               lambda: simhash(df, "doc_id", "text"),
               lambda: fingerprints(df, "doc_id", "text")):
        plan = fn()._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in plan and "Window" not in plan


# -------------------------------------- ApplyHTML selector upgrades (r4)
def test_htmlsel_child_combinator_and_classlist():
    from lucille_spark.pipeline.htmlsel import select_html

    html = """
    <div id="top"><p>direct</p>
      <section><p>nested</p></section>
    </div>
    <p>outside</p>
    """
    assert select_html(html, "#top > p") == ["direct"]
    assert select_html(html, "#top p") == ["direct", "nested"]
    assert select_html(html, "div>p") == ["direct"]  # no-space syntax

    # backtracking: greedy nearest-ancestor would bind B to the inner div
    # (whose parent is not A) and wrongly reject the match
    tricky = ('<div class="a"><div class="b"><div class="x">'
              '<div class="b"><span>hit</span></div></div></div></div>')
    assert select_html(tricky, ".a > .b span") == ["hit"]

    # [attr~=value]: class-list word matching vs exact [attr=value]
    multi = ('<a class="btn primary" href="u1">one</a>'
             '<a class="btn" href="u2">two</a>')
    assert select_html(multi, "[class~=primary]", "attribute",
                       "href") == ["u1"]
    assert select_html(multi, "[class=btn]", "attribute", "href") == ["u2"]
    assert select_html(multi, "[class~=btn]", "attribute",
                       "href") == ["u1", "u2"]


def test_htmlsel_child_combinator_validation():
    from lucille_spark.pipeline.htmlsel import parse_selector

    with pytest.raises(ValueError):
        parse_selector("> p")
    with pytest.raises(ValueError):
        parse_selector("a > > b")
    with pytest.raises(ValueError):
        parse_selector("a >")
    chain = parse_selector("div > p.note span")
    assert [c for _, c in chain] == [None, "child", "descendant"]


# ------------------------------- ChunkText abbreviation-aware sentences
def test_chunk_sentence_abbreviations(spark):
    """VERDICT r3 #7: sentence mode must not split after honorifics,
    initials, or latinisms (approximating OpenNLP's SentenceDetector)."""
    from lucille_spark.pipeline.stages import ChunkText

    text = ("Dr. Smith met J. K. Rowling at 3.14 Main St. yesterday. "
            "They discussed e.g. chunking. It went well! Prof. Jones "
            "joined later. The end.")
    from lucille_spark.pipeline.conditions import CHILDREN

    df = spark.createDataFrame([("d1", text)], "id string, text string")
    out = ChunkText(source="text", id_col="id", mode="sentence").apply(df)
    row = out.select(CHILDREN).collect()[0][0]
    chunks = [c["chunk_text"] for c in row]
    assert chunks == [
        "Dr. Smith met J. K. Rowling at 3.14 Main St. yesterday.",
        "They discussed e.g. chunking.",
        "It went well!",
        "Prof. Jones joined later.",
        "The end.",
    ], chunks


def test_chunk_sentence_plain_still_splits(spark):
    from lucille_spark.pipeline.stages import ChunkText

    from lucille_spark.pipeline.conditions import CHILDREN

    df = spark.createDataFrame(
        [("d1", "One here. Two there? Three now!")],
        "id string, text string")
    out = ChunkText(source="text", id_col="id", mode="sentence").apply(df)
    got = [c["chunk_text"] for c in out.select(CHILDREN).collect()[0][0]]
    assert got == ["One here.", "Two there?", "Three now!"]


# ------------------------------ Kafka topology construction (mock, r4 #8)
class _KafkaRec:
    """Fluent-API recorder standing in for readStream/DataFrame/writeStream
    — the sandbox has no kafka jar or broker (dated waiver in
    streaming/ingest.py), so the exact reader topology from_kafka builds
    is asserted against this mock instead."""

    def __init__(self, log):
        self.log = log

    def format(self, f):
        self.log.append(("format", f))
        return self

    def option(self, k, v):
        self.log.append(("option", k, v))
        return self

    def load(self):
        self.log.append(("load",))
        return self

    def select(self, *cols):
        self.log.append(("select", tuple(str(c) for c in cols)))
        return self

    @property
    def writeStream(self):
        self.log.append(("writeStream",))
        return self

    def foreachBatch(self, fn):
        self.log.append(("foreachBatch", callable(fn)))
        return self

    def trigger(self, **kw):
        self.log.append(("trigger", kw))
        return self

    def start(self):
        self.log.append(("start",))
        return self

    def awaitTermination(self):
        self.log.append(("awaitTermination",))


def test_kafka_topology_construction(spark, tmp_path):
    # `spark` fixture: F.from_json needs an active SparkContext even
    # though the mock never executes anything
    from types import SimpleNamespace

    from lucille_spark.streaming.ingest import StreamingIngest

    log = []
    rec = _KafkaRec(log)
    si = StreamingIngest.__new__(StreamingIngest)
    si.spark = SimpleNamespace(readStream=rec)
    si.pipeline = None
    si.sink = None
    si.checkpoint_dir = str(tmp_path / "ckpt")
    si.metrics_dir = None
    si.run_id = "t"
    si.failed_dir = None

    si.from_kafka("broker:9092", "docs", "id string, text string",
                  starting_offsets="latest", available_now=True)

    assert ("format", "kafka") in log
    assert ("option", "kafka.bootstrap.servers", "broker:9092") in log
    assert ("option", "subscribe", "docs") in log
    assert ("option", "startingOffsets", "latest") in log
    # value parsed as JSON then flattened
    selects = [x for x in log if x[0] == "select"]
    assert "from_json" in selects[0][1][0] and "value" in selects[0][1][0]
    assert selects[1][1] == ("doc.*",)
    assert ("option", "checkpointLocation", si.checkpoint_dir) in log
    assert ("foreachBatch", True) in log
    assert ("trigger", {"availableNow": True}) in log
    assert log[-1] == ("awaitTermination",)


# --------------------------------------- --py-files packaging (north rule)
def test_make_pyfiles_zip_deterministic(tmp_path):
    """spark-submit --py-files deployment: the package zip is complete,
    importable, and byte-deterministic (content-addressable deploys)."""
    import sys
    import zipfile

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..",
                                    "tools"))
    from make_pyfiles_zip import build

    z1, z2 = str(tmp_path / "a.zip"), str(tmp_path / "b.zip")
    n1, n2 = build(z1), build(z2)
    assert n1 == n2 > 30
    assert open(z1, "rb").read() == open(z2, "rb").read()
    names = zipfile.ZipFile(z1).namelist()
    assert "lucille_spark/__init__.py" in names
    assert "lucille_spark/index/builder.py" in names
    assert not any("__pycache__" in n or n.startswith("tests") for n in names)


# ------------------------------ embedding near-dup via LSH (no blocking)
def test_near_dup_pairs_lsh_recall_and_shape(spark):
    """SRP-bucket candidate pairs + exact cosine verify must recover the
    planted near-identical pair without any blocking column, and the plan
    must contain no cross product."""
    import numpy as np

    from lucille_spark.ml.similarity import near_dup_pairs_lsh

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(60, 16))
    vecs[41] = vecs[40] * 0.95 + 0.005   # near-dup pair (cos ~ 1)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<double>")
    pairs = near_dup_pairs_lsh(df, "vec_id", "embedding", threshold=0.9,
                               n_planes=6)
    got = {(r.id_a, r.id_b): r.cosine for r in pairs.collect()}
    assert (40, 41) in got and got[(40, 41)] > 0.99
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "Cartesian" not in plan and "CrossJoin" not in plan

    # hot-bucket cap drops degenerate buckets
    clones = spark.createDataFrame(
        [(i, [1.0] * 16) for i in range(30)] +
        [(100, [float(x) for x in vecs[40]]),
         (101, [float(x) for x in vecs[41]])],
        "vec_id long, embedding array<double>")
    capped = near_dup_pairs_lsh(clones, "vec_id", "embedding",
                                threshold=0.9, n_planes=6,
                                max_bucket_size=5)
    got2 = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in got2
    assert not any(a < 30 and b < 30 for a, b in got2)  # clique dropped


# --------------------------------------------- sequence packing (budget)
def test_pack_sequences_streaming_overflow(spark):
    from lucille_spark.ml.textstats import pack_sequences

    rows = [(1, "a", "w " * 40), (2, "a", "w " * 40), (3, "a", "w " * 40),
            (4, "a", "w " * 250), (5, "a", "w " * 10),
            (6, "b", "w " * 5)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r.doc_id: (r.part, r.n_tokens, r.pack_id)
           for r in pack_sequences(df, "doc_id", "text", 100,
                                   part_col="lang").collect()}
    # cum_before per doc (lang a): 0, 40, 80, 120, 370
    assert out[1] == ("a", 40, 0)
    assert out[2] == ("a", 40, 0)
    assert out[3] == ("a", 40, 0)   # starts at 80, overflows pack 0
    assert out[4] == ("a", 250, 1)  # starts at 120
    assert out[5] == ("a", 10, 3)   # starts at 370
    assert out[6] == ("b", 5, 0)    # separate shard restarts packing

    # partitioned mode must not contain a single-partition global sort
    plan = pack_sequences(df, "doc_id", "text", 100, part_col="lang") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


# ------------------------- classic-parser multi-term family (r4 parity)
def test_parse_range_wildcard_fieldgroup():
    from lucille_spark.query.parser import (And, Or, Prefix, QueryParseError,
                                            Term, TermRange, Wildcard, parse)

    r = parse("content:[data TO dup]")
    assert r == TermRange("content", "data", "dup", True, True, 1.0)
    r2 = parse("content:{data TO dup}^2")
    assert (r2.include_lower, r2.include_upper, r2.boost) == (False, False,
                                                              2.0)
    assert parse("content:[* TO dup]").lower is None
    assert parse("content:[dup TO *]").upper is None

    w = parse("content:s?a*")
    assert isinstance(w, Wildcard) and w.pattern == "s?a*"
    assert isinstance(parse("content:*est"), Wildcard)  # leading wildcard
    assert isinstance(parse("content:spa*"), Prefix)    # trailing-only

    g = parse("title:(spark OR hash) AND merge")
    assert isinstance(g, And)
    or_node = g.children[0]
    assert isinstance(or_node, Or)
    assert all(c.field == "title" for c in or_node.children)
    assert g.children[1] == Term("content", "merge", 1.0)

    for bad in ["content:[data dup]", "content:*", "content:(a OR b"]:
        with pytest.raises(QueryParseError):
            parse(bad)


def test_expand_range_and_wildcard_nodes():
    from lucille_spark.query.parser import (Or, Term, expand_prefixes,
                                            parse)

    node = parse("content:[b TO d]")
    exp = expand_prefixes(
        node, lambda f, p: [],
        range_expander=lambda f, lo, hi, il, iu: ["b", "c", "d"])
    assert isinstance(exp, Or)
    assert [t.text for t in exp.children] == ["b", "c", "d"]

    node = parse("content:x?z")
    exp = expand_prefixes(node, lambda f, p: [],
                          wildcard_expander=lambda f, pat: ["xyz", "xaz"])
    assert [t.text for t in exp.children] == ["xaz", "xyz"]
    # empty expansion -> impossible term, matches nothing
    nothing = expand_prefixes(node, lambda f, p: [],
                              wildcard_expander=lambda f, pat: [])
    assert isinstance(nothing, Term) and "\x00" in nothing.text


# --------------------- merge/reader concurrency stress (ADVICE r3 medium)
def test_readers_survive_concurrent_merges(spark, tmp_path):
    """The advisor's scenario, live: readers opening continuously WHILE
    merge_index commits must never crash, never corrupt the merge, and
    always see one complete version (the manifest they opened)."""
    import threading

    from lucille_spark.corpus import corpus_df
    from lucille_spark.index.builder import build_index
    from lucille_spark.index.merge import merge_index
    from lucille_spark.index.reader import IndexReader
    from pyspark.sql import functions as F

    idx = str(tmp_path / "idx")
    build_index(corpus_df(spark, 300, partitions=3), idx,
                fields=("content",), block_size=32, docs_per_salt=64)

    stop = threading.Event()
    errors, seen = [], set()

    def reader_loop():
        while not stop.is_set():
            try:
                rd = IndexReader(idx)
                assert rd.term_info("content", "return") is not None
                assert rd.terms_with_prefix("content", "re")
                seen.add(rd.version())
            except Exception as e:   # pragma: no cover - the assertion
                errors.append(repr(e))
                return

    threads = [threading.Thread(target=reader_loop) for _ in range(3)]
    for t in threads:
        t.start()
    try:
        for b in range(3):
            delta = corpus_df(spark, 60, partitions=2).withColumn(
                "repo", F.concat(F.lit(f"m{b}/"), F.col("repo")))
            merge_index(delta, idx, fields=("content",), run_id=f"c{b}")
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    # post-merge state is queryable, and readers opened throughout
    rd = IndexReader(idx)
    assert rd.term_info("content", "return") is not None
    assert rd.version() == "4" and seen <= {"1", "2", "3", "4"}
    assert len(seen) > 1


# ----------------------------------------------------- MatchAll `*:*` (r4)
def test_matchall_boolean_plane(index_dir):
    from lucille_spark.query.searcher import IndexSearcher

    s = IndexSearcher(index_dir, "content")
    all_ids = s.match("*:*")
    assert len(all_ids) == 1000
    some = s.match("content:koala")
    rest = s.match("*:* AND -content:koala")
    assert len(rest) == 1000 - len(some)
    assert set(rest) | set(some) == set(all_ids)
    # scored plane: `*:* AND x` ranks by x (constant clause scores 0)
    via_filter = s.search("*:* AND content:return", k=5)
    plain = s.search("content:return", k=5)
    assert [d for d, _ in via_filter] == [d for d, _ in plain]


def test_matchall_matchquery_stage(spark):
    from lucille_spark.pipeline.stages import MatchQuery

    df = spark.createDataFrame(
        [("1", "alpha beta"), ("2", "gamma")], "id string, content string")
    st = MatchQuery(queries={"everything": "*:*", "alpha": "content:alpha"})
    out = {r.id: sorted(r.matched_queries)
           for r in st.apply(df).collect()}
    assert out == {"1": ["alpha", "everything"], "2": ["everything"]}


# --------------------------------------------- sloppy phrases `"a b"~N`
def test_sloppy_phrase_parse_and_contract():
    from lucille_spark.query.parser import Phrase, QueryParseError, parse
    from lucille_spark.query.searcher import _sloppy_window_exists

    p = parse('content:"key order"~2^3')
    assert p == Phrase("content", ("key", "order"), 3.0, 2)
    with pytest.raises(QueryParseError):   # repeated terms unsupported
        parse('content:"key key"~1')
    # span-width contract: transposition costs 2, one gap costs 1
    assert _sloppy_window_exists([-1, 1], [1, 0], 2, 2)
    assert not _sloppy_window_exists([-1, 1], [1, 0], 2, 1)
    assert _sloppy_window_exists([0, 1], [0, 1], 2, 1)


def test_sloppy_phrase_three_planes_agree(spark, tmp_path):
    """searcher (positional index), OracleIndex (pure python), and the
    MatchQuery stage (JVM column exprs) must agree doc-for-doc."""
    from lucille_spark.index.builder import build_index
    from lucille_spark.pipeline.stages import MatchQuery
    from lucille_spark.query.oracle import OracleIndex
    from lucille_spark.query.searcher import IndexSearcher

    rows = [("1", "alpha beta"), ("2", "beta alpha"), ("3", "alpha x beta"),
            ("4", "alpha x y z beta"), ("5", "beta only here"),
            ("6", "x alpha y beta z"), ("7", "beta q q q alpha")]
    queries = ['content:"alpha beta"', 'content:"alpha beta"~1',
               'content:"alpha beta"~2', 'content:"alpha beta"~5']
    oi = OracleIndex([{"id": r[0], "content": r[1]} for r in rows],
                     fields=("content",))
    df = spark.createDataFrame(rows, "id string, content string")
    stage = MatchQuery(queries={q: q for q in queries})
    stage_hits = {q: set() for q in queries}
    for r in stage.apply(df).collect():
        for q in r.matched_queries:
            stage_hits[q].add(r.id)
    idx = str(tmp_path / "idx")
    corpus = spark.createDataFrame(
        [(r[0], r[0], "c", "python", r[1]) for r in rows],
        "repo string, path string, commit string, lang string, content string")
    build_index(corpus, idx, fields=("content",), store_positions=True)
    searcher = IndexSearcher(idx, "content")
    for q in queries:
        want = set(oi.match_query(q))
        assert stage_hits[q] == want, q
        assert len(searcher.match(q)) == len(want), q
    assert set(oi.match_query('content:"alpha beta"~2')) == {"1", "2",
                                                             "3", "6"}
    # "beta q q q alpha": q_alpha = 4, q_beta = -1 -> width 5
    assert "7" in set(oi.match_query('content:"alpha beta"~5'))


# -------------------------------------- faceting + snippets (query plane)
def test_searcher_facet_matches_df_twin(spark, index_dir):
    """IndexSearcher.facet (postings intersections) must agree with the
    corpus-side facet_counts_df on the same boolean condition."""
    from lucille_spark.corpus import corpus_df
    from lucille_spark.query.executor_df import facet_counts_df
    from lucille_spark.query.searcher import IndexSearcher

    s = IndexSearcher(index_dir, "content")
    got = s.facet("content:return OR content:import", "lang", size=10)
    corpus = corpus_df(spark, 1000, partitions=4).withColumnRenamed(
        "content", "text")
    want = [(r.facet_value, r.n) for r in
            facet_counts_df(corpus, "text", "lang",
                            any_of=["return", "import"],
                            size=10).collect()]
    assert got == want
    assert sum(n for _, n in got) > 0
    # counts are sorted desc, ties by value asc
    assert got == sorted(got, key=lambda kv: (-kv[1], kv[0]))


def test_snippets_df_window_and_tiebreak(spark):
    from lucille_spark.query.executor_df import snippets_df

    rows = [(1, "x" * 50 + " merge lives here " + "y" * 50),
            (2, "vector first then merge later"),
            (3, "nothing relevant at all"),
            (4, "Merge capitalized start")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           snippets_df(df, "doc_id", "text", ["merge", "vector"],
                       window=10).collect()}
    assert 3 not in out
    assert out[1].matched_term == "merge"
    assert "merge" in out[1].snippet and len(out[1].snippet) <= 25
    assert out[2].matched_term == "vector" and out[2].offset == 0
    assert out[4].matched_term == "merge" and out[4].offset == 0
    assert out[4].snippet.startswith("Merge")  # original casing preserved


# ------------------------------------------------- MoreLikeThis (Lucene MLT)
def test_more_like_this_finds_similar_docs(index_dir, tiny_corpus_pdf):
    """MLT over like-text: feeding a real document's text back must rank
    near-identical docs at the top and exclude the source when asked."""
    import hashlib

    from lucille_spark.query.searcher import IndexSearcher

    s = IndexSearcher(index_dir, "content")
    row = tiny_corpus_pdf.iloc[5]
    src_id = hashlib.sha256(
        f"{row.repo}\x00{row.path}\x00{row.commit}".encode()).hexdigest()
    hits = s.more_like_this(row.content, k=5)
    assert hits and hits[0][0] == src_id  # the doc itself is most similar
    excl = s.more_like_this(row.content, k=5, exclude_doc_id=src_id)
    assert src_id not in [d for d, _ in excl] and len(excl) == 5

    # term selection: max_query_terms caps by tf*idf, min_doc_freq drops
    # out-of-vocabulary / near-hapax terms without erroring
    assert s.more_like_this("zzz qqq notinvocab", k=5) == []
    few = s.more_like_this(row.content, k=5, max_query_terms=3)
    assert few  # still answers with a 3-term query


# ----------------------------- deterministic sampling / dataset mixing
def test_deterministic_sample_nested_and_stable(spark):
    from lucille_spark.ml.sampling import deterministic_sample, weighted_sample

    df = spark.createDataFrame([(i, "a" if i % 2 else "b")
                                for i in range(2000)],
                               "doc_id long, lang string")
    s20 = {r.doc_id for r in
           deterministic_sample(df, "doc_id", 0.2).collect()}
    s50 = {r.doc_id for r in
           deterministic_sample(df, "doc_id", 0.5).collect()}
    assert s20 <= s50                       # nested by construction
    assert 0.12 < len(s20) / 2000 < 0.28    # ~rate
    assert 0.42 < len(s50) / 2000 < 0.58
    # stable across runs and repartitioning
    again = {r.doc_id for r in deterministic_sample(
        df.repartition(7), "doc_id", 0.2).collect()}
    assert again == s20
    # no shuffle in the plan
    plan = deterministic_sample(df, "doc_id", 0.2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    w = weighted_sample(df, "doc_id", "lang", {"a": 1.0}, default_rate=0.0)
    got = {r.doc_id for r in w.collect()}
    assert got == {i for i in range(2000) if i % 2}  # all a, no b
    with pytest.raises(ValueError):
        deterministic_sample(df, "doc_id", 1.5)


# ------------------------------- property tests for the new matchers (r4)
def test_sloppy_window_property_vs_bruteforce():
    """The two-pointer window matcher must equal the brute-force
    all-assignments check on random occurrence sets."""
    from itertools import product

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lucille_spark.query.searcher import _sloppy_window_exists

    @settings(max_examples=300, deadline=None)
    @given(
        st.lists(st.lists(st.integers(0, 20), min_size=1, max_size=4),
                 min_size=2, max_size=4),
        st.integers(0, 6))
    def check(per_term_positions, slop):
        n = len(per_term_positions)
        events = sorted((p - i, i)
                        for i, ps in enumerate(per_term_positions)
                        for p in ps)
        got = _sloppy_window_exists([q for q, _ in events],
                                    [l for _, l in events], n, slop)
        want = any(
            max(p[i] - i for i in range(n)) - min(p[i] - i
                                                  for i in range(n)) <= slop
            for p in product(*per_term_positions))
        assert got == want, (per_term_positions, slop)

    check()


def test_wildcard_expansion_property_vs_fnmatch():
    """The wildcard expansion contract (oracle twin of
    reader.terms_wildcard — the reader's prefix-pruned Arrow path is
    checked against this same oracle by the rank-identity suites) must
    equal a plain fnmatch filter over the whole dictionary, for
    arbitrary patterns over the analyzer alphabet."""
    import fnmatch

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lucille_spark.query.oracle import OracleIndex

    vocab = sorted({f"t{i:02d}" for i in range(40)}
                   | {"alpha", "beta", "a1_x", "zz", "a", "ab", "abc"})

    oi = OracleIndex([{"id": str(i), "content": " ".join(vocab)}
                      for i in range(2)], fields=("content",))

    alphabet = st.sampled_from(list("abct01z*?_"))

    @settings(max_examples=200, deadline=None)
    @given(st.lists(alphabet, min_size=1, max_size=6))
    def check(chars):
        pattern = "".join(chars)
        got = oi.terms_wildcard("content", pattern)
        want = sorted(t for t in vocab if fnmatch.fnmatchcase(t, pattern))
        assert got == want, pattern

    check()


def test_range_expansion_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lucille_spark.query.oracle import OracleIndex

    vocab = sorted(f"w{i:02d}" for i in range(30))
    oi = OracleIndex([{"id": "1", "content": " ".join(vocab)}],
                     fields=("content",))
    word = st.one_of(st.none(), st.sampled_from(vocab + ["a", "zzz"]))

    @settings(max_examples=200, deadline=None)
    @given(word, word, st.booleans(), st.booleans())
    def check(lo, hi, il, iu):
        got = oi.terms_in_range("content", lo, hi, il, iu)
        want = sorted(
            t for t in vocab
            if (lo is None or (t > lo or (il and t == lo)))
            and (hi is None or (t < hi or (iu and t == hi))))
        assert got == want, (lo, hi, il, iu)

    check()
