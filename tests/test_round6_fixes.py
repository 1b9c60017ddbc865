"""Round-6 additions: near-dup cluster resolution + keep-one
(VERDICT r5 #2), corpus-side result grouping (#3), classic-parser `+`
MUST (#4), ApplyHTML finalized pseudo-classes (#5), langid breadth (#6),
and the ADVICE r5 hardening items."""

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- dedup


def test_near_dup_clusters_chain_collapses(spark):
    """Chain A-B, B-C (no A-C edge) is ONE cluster — the transitive case
    pairwise keep-one gets wrong."""
    from lucille_spark.ml.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")],
        "doc_a string, doc_b string")
    labels = {r["doc_id"]: r["cluster_id"]
              for r in near_dup_clusters(pairs).collect()}
    assert labels == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_near_dup_clusters_long_chain_and_empty(spark):
    from lucille_spark.ml.dedup import near_dup_clusters

    # a 6-node path graph: worst-case diameter for label propagation
    chain = [(i, i + 1) for i in range(1, 6)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    labels = near_dup_clusters(pairs).collect()
    assert {r["cluster_id"] for r in labels} == {1}
    assert len(labels) == 6

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert near_dup_clusters(empty).count() == 0


def test_dedupe_near_keeps_one_per_cluster(spark):
    """End-to-end keep-one: exact dup + near dup of d1 both drop, the
    unrelated doc and the singleton survive."""
    from lucille_spark.ml.dedup import dedupe_near

    rows = [
        ("d1", "alpha beta gamma delta epsilon zeta eta theta"),
        ("d2", "alpha beta gamma delta epsilon zeta eta theta"),  # exact
        ("d3", "alpha beta gamma delta epsilon zeta eta iota"),   # near
        ("d4", "completely different words entirely over here now"),
    ]
    docs = spark.createDataFrame(rows, "id string, text string")
    kept = {r["id"] for r in
            dedupe_near(docs, "id", "text", threshold=0.3).collect()}
    assert kept == {"d1", "d4"}


def test_dedupe_near_no_pairs_is_identity(spark):
    from lucille_spark.ml.dedup import dedupe_near

    rows = [("a", "one two three four five six"),
            ("b", "seven eight nine ten eleven twelve")]
    docs = spark.createDataFrame(rows, "id string, text string")
    assert dedupe_near(docs, "id", "text", threshold=0.9).count() == 2


# ------------------------------------------- corpus-side result grouping


def test_grouped_topk_df_basic(spark):
    """Groups ranked by best-doc score (tie: group asc), docs capped per
    group, null group values dropped — search_grouped semantics as one
    DataFrame plan."""
    from lucille_spark.query.executor_df import grouped_topk_df

    rows = [
        ("d1", "g1", "spark spark spark filler"),   # strongest match
        ("d2", "g1", "spark filler other words"),
        ("d3", "g1", "spark one more doc here"),    # 3rd best in g1 -> cut
        ("d4", "g2", "spark spark mid strength"),
        ("d5", None, "spark spark spark spark"),    # null group -> dropped
        ("d6", "g3", "no match terms at all"),
    ]
    df = spark.createDataFrame(rows, "id string, grp string, text string")
    out = [(r.group_value, r.grp_rank, r.doc_rank, r.doc_id)
           for r in grouped_topk_df(df, "id", "text", "grp", ["spark"],
                                    k_groups=10, docs_per_group=2)
           .orderBy("grp_rank", "doc_rank").collect()]
    assert out == [("g1", 1, 1, "d1"), ("g1", 1, 2, "d2"),
                   ("g2", 2, 1, "d4")]


def test_grouped_topk_df_twin_of_searcher(spark, index_dir):
    """Twin-equality (VERDICT r5 #3): the corpus-side DataFrame grouping
    plan returns EXACTLY the searcher route's two-pass-collector result
    on the same corpus — groups, ranks, docs, and 4-dp scores."""
    from lucille_spark.corpus import corpus_df
    from lucille_spark.index.builder import add_doc_identity
    from lucille_spark.query.executor_df import grouped_topk_df
    from lucille_spark.query.searcher import IndexSearcher

    corpus = add_doc_identity(corpus_df(spark, 1000, partitions=7))
    out = grouped_topk_df(corpus, "doc_id", "content", "lang",
                          ["return", "import"],
                          k_groups=3, docs_per_group=2)
    df_rows = {(r.group_value, r.grp_rank, r.doc_rank, r.doc_id,
                round(r.score, 4)) for r in out.collect()}

    s = IndexSearcher(index_dir, "content")
    grouped = s.search_grouped("content:return OR content:import", "lang",
                               k_groups=3, docs_per_group=2)
    s_rows = {(g, gi + 1, di + 1, doc_id, round(score, 4))
              for gi, (g, docs) in enumerate(grouped)
              for di, (doc_id, score) in enumerate(docs)}
    assert df_rows == s_rows

    # scale-shape audit: the only corpus-sized window is partitioned on
    # the group key (one Exchange); the global rank window runs over at
    # most k_groups rows after the limit, like bm25_query_df's
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(group_value" in plan


# ------------------------------------------------- classic-parser + (MUST)


def test_parser_must_ast():
    """Unary + parses to Must; +NOT flattens to the prohibition."""
    from lucille_spark.query.parser import Must, Not, Or, Term, parse

    node = parse("a +b -c")
    assert isinstance(node, Or)
    assert node.children == (Term("content", "a"),
                             Must(Term("content", "b")),
                             Not(Term("content", "c")))
    assert parse("+x") == Must(Term("content", "x"))
    assert parse("+-x") == Not(Term("content", "x"))
    assert parse("+content:y^2") == Must(Term("content", "y", 2.0))


def test_oracle_must_semantics():
    """a +b c: only b required; a/c score when present. +a +b = a AND b."""
    from lucille_spark.query.oracle import OracleIndex
    from lucille_spark.query.parser import parse

    docs = [
        {"id": "1", "content": "alpha beta"},
        {"id": "2", "content": "beta gamma"},
        {"id": "3", "content": "alpha gamma"},
        {"id": "4", "content": "beta"},
    ]
    ix = OracleIndex(docs)
    ids = lambda q: {ix.doc_ids[d] for d in ix.matching(parse(q))}
    assert ids("alpha +beta") == {"1", "2", "4"}
    assert ids("+alpha +beta") == {"1"}
    assert ids("alpha +beta -gamma") == {"1", "4"}
    assert ids("+beta gamma") == {"1", "2", "4"}
    # must doc set == plain-term doc set, but scoring differs: the
    # should term still contributes on docs that have it
    s = dict(ix.search("alpha +beta", k=10))
    assert s["1"] > s["4"]  # doc 1 scores alpha AND beta, doc 4 only beta


def test_match_query_must_percolator(spark):
    """MatchQuery percolates +must should -not with Lucene occurs."""
    from lucille_spark.pipeline.stages import MatchQuery

    docs = spark.createDataFrame(
        [("d1", "alpha beta"), ("d2", "beta gamma"),
         ("d3", "alpha gamma"), ("d4", "beta")],
        "id string, text string")
    st = MatchQuery(queries={"q": "+beta alpha -gamma"},
                    default_field="text")
    out = {r.id: list(r.matched_queries)
           for r in st.apply(docs).collect() if r.matched_queries}
    assert out == {"d1": ["q"], "d4": ["q"]}


# -------------------------------------- ApplyHTML finalized pseudo-classes


def test_html_finalized_pseudo_classes():
    """r6 (VERDICT r5 #5): :last-child / :last-of-type / :only-child /
    :only-of-type / :nth-last-* — decided when the parent closes via the
    pending-candidate buffer; subject position only."""
    from lucille_spark.pipeline.htmlsel import select_html

    html = ('<ul><li>a</li><li>b</li><li>c</li></ul>'
            '<div><h2>t</h2><p>p1</p><p>p2</p><span>s</span></div>'
            '<section><p>solo</p></section>')
    assert select_html(html, "li:last-child") == ["c"]
    assert select_html(html, "p:last-of-type") == ["p2", "solo"]
    assert select_html(html, "p:only-child") == ["solo"]
    assert select_html(html, "p:only-of-type") == ["solo"]
    assert select_html(html, "span:last-child") == ["s"]
    assert select_html(html, "li:nth-last-child(2)") == ["b"]
    assert select_html(html, "li:nth-last-child(odd)") == ["a", "c"]
    assert select_html(html, "p:nth-last-of-type(1)") == ["p2", "solo"]
    # h2 is first child but also last-of-type (only h2 in the div)
    assert select_html(html, "h2:last-of-type") == ["t"]
    assert select_html(html, "h2:only-of-type") == ["t"]
    assert select_html(html, "h2:only-child") is None


def test_html_finalized_pseudo_composition_and_root():
    """Finalized pseudos compose with ancestor/sibling chain steps, work
    at document root, on implicit-close siblings, and for attribute
    extraction."""
    from lucille_spark.pipeline.htmlsel import select_html

    html = ('<div id="x"><p>p1</p><p>p2</p></div>'
            '<div id="y"><p>q1</p><span>s</span></div>')
    assert select_html(html, "div > p:last-child") == ["p2"]
    assert select_html(html, "#x p:last-child") == ["p2"]
    assert select_html(html, "p + p:last-child") == ["p2"]
    # root-level subjects resolve at document close (no whitespace in
    # the source between </p><span>, so normalized text is "q1s")
    assert select_html(html, "div:last-child") == ["q1s"]
    assert select_html(html, "div:first-child + div:last-of-type",
                       typ="attribute", attribute="id") == ["y"]
    # implicit-close <li> siblings (HTML5 omitted end tags)
    assert select_html("<ul><li>a<li>b<li>c</ul>", "li:last-child") == ["c"]
    assert select_html("<ul><li>a<li>b<li>c</ul>", "li:only-child") is None
    assert select_html("<ul><li>only</ul>", "li:only-child") == ["only"]
    # nested same-tag: each ul's own last li
    nested = "<ul><li>a<li>b<ul><li>x<li>y</ul></ul>"
    # the nested ul sits INSIDE li "b" (ul does not implicitly close
    # li), so the inner list's last li is reached via li > ul
    assert select_html(nested, "li > ul > li:last-child") == ["y"]
    assert select_html(nested, "ul ul li:last-child") == ["y"]
    # the outer ul's last element child is li "b" (no whitespace in the
    # source between "b" and <ul>, so subtree text normalizes to "bxy");
    # document order = start-tag order, so b precedes the nested y
    assert select_html(nested, "li:last-child") == ["bxy", "y"]
    # html extraction type with finalized pseudo
    assert select_html(html, "div:nth-last-child(2)",
                       typ="html") == ["<p>p1</p><p>p2</p>"]
    # unclosed tags finalize at close()
    assert select_html("<div><p>u1<p>u2", "p:last-child") == ["u2"]


def test_html_not_pseudo_class():
    """late r6: `:not(simple)` with a start-tag-decidable inner — tag,
    class, attribute or positional forms; composes with chain steps and
    other pseudos; parent-close pseudos and nesting inside :not are
    rejected (their negation is itself a parent-close fact)."""
    import pytest

    from lucille_spark.pipeline.htmlsel import parse_selector, select_html

    html = ('<ul><li class="ca">one</li><li>two</li>'
            '<li class="ca" data-x="u">three</li></ul>')
    assert select_html(html, "li:not(.ca)") == ["two"]
    assert select_html(html, "li:not([data-x=u])") == ["one", "two"]
    assert select_html(html, "li:not(:first-child)") == ["two", "three"]
    assert select_html(html, "li:not(.ca):not(:first-child)") == ["two"]
    assert select_html(html, "ul > li:not(.ca)") == ["two"]
    # :not on a NON-subject step (start-tag-decidable -> allowed)
    two_lists = ('<div class="ca"><p>in-ca</p></div>'
                 '<div><p>plain</p></div>')
    assert select_html(two_lists, "div:not(.ca) > p") == ["plain"]
    # inner tag form: every non-li child
    mixed = "<ul><li>a</li><em>b</em><li>c</li></ul>"
    assert select_html(mixed, "ul > *:not(li)") == ["b"]
    for bad in (":not(:last-child)", ":not(:nth-last-child(2))",
                ":not(:not(div))", ":not()"):
        with pytest.raises(ValueError):
            parse_selector(bad)


# --------------------------------------------- ADVICE r5 hardening items


def test_doc_values_aligned_with_missing_ords(index_dir):
    """ADVICE r5: doc_values returns a None-filled array POSITIONALLY
    aligned to the input ords — missing ords must not shift subsequent
    values (search_grouped zips positionally) nor raise on an
    all-out-of-range request."""
    import numpy as np

    from lucille_spark.index.reader import IndexReader

    rd = IndexReader(index_dir)
    span = rd.ord_span()          # max doc_ord + 1
    lo, hi = 0, span - 1
    real = np.array([lo, lo + 1, lo + 2], dtype=np.int64)
    aligned = rd.doc_values("lang", real)
    assert aligned is not None and aligned.size == 3
    assert all(v is not None for v in aligned)

    # a hole in the middle: the phantom ord yields None AT ITS POSITION,
    # values after it stay aligned (hi + 10 doesn't exist)
    with_hole = np.array([lo, hi + 10], dtype=np.int64)
    vals = rd.doc_values("lang", with_hole)
    assert vals.size == 2
    assert vals[0] == aligned[0] and vals[1] is None

    # every requested ord out of range: empty scan, aligned None fill
    gone = np.array([hi + 50, hi + 60], dtype=np.int64)
    vals = rd.doc_values("lang", gone)
    assert vals.size == 2 and vals[0] is None and vals[1] is None

    # unstored field still signals fallback with None
    assert rd.doc_values("no_such_field", real) is None


def test_query_job_arg_validation():
    """ADVICE r5: --facet without --query (and no mode at all) must be a
    clear usage error, not a TypeError from open(None)."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "jobs/query_job.py", "--index", "/tmp/nope",
         "--facet", "lang"],
        capture_output=True, text=True, cwd=".")
    assert r.returncode == 2
    assert "--facet FIELD requires --query" in r.stderr

    r = subprocess.run(
        [sys.executable, "jobs/query_job.py", "--index", "/tmp/nope"],
        capture_output=True, text=True, cwd=".")
    assert r.returncode == 2
    assert "one of --query / --query-file" in r.stderr


# ------------------------------------------- langid breadth (VERDICT #6)

R6_LATIN_FIXTURES = [
    ("Ini ialah teks daripada saya dan boleh untuk di yang dengan", "ms"),
    ("Som tu ale ako je to na sa aj", "sk"),
    ("Je in se na da ki pa res", "sl"),
    ("Ir yra kad tai bet kaip namas", "lt"),
    ("Un ir ka par bet vai tas nams", "lv"),
    ("Dhe nga ka si jo po me mire", "sq"),
    ("O home e os nenos non queren unha cousa de que falar", "gl"),
    ("Die man is nie hier nie en het van wat om te sien", "af"),
]


def test_r6_latin_langid_breadth(spark):
    """r6 (VERDICT r5 #6): ms/sk/sl/lt/lv/sq/gl/af stopword profiles —
    each fixture must win over ALL 28 profiles in both language_scores
    and the DetectLanguage stage, and the id/cs/hr/ca/nl fixtures from
    earlier rounds must keep winning over the newcomers (covered by the
    r2/r5 tests re-run against the widened table)."""
    from lucille_spark.ml.textstats import language_scores
    from lucille_spark.pipeline.stages import DetectLanguage

    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(R6_LATIN_FIXTURES)],
        "doc_id long, text string")
    got = {r.doc_id: r.predicted
           for r in language_scores(df, "doc_id", "text").collect()}
    for i, (_, want) in enumerate(R6_LATIN_FIXTURES):
        assert got[i] == want, (i, got[i], want)

    out = DetectLanguage(source="text", min_length=5).apply(df)
    got_stage = {r.doc_id: r.language for r in out.collect()}
    for i, (_, want) in enumerate(R6_LATIN_FIXTURES):
        assert got_stage[i] == want, (i, got_stage[i], want)


def test_vietnamese_marker_route(spark):
    """Vietnamese rides the script-marker route (unique precomposed
    vowels + dj/horn letters), NOT a stopword profile — its function
    words are diacritic-bearing and invisible to the ASCII analyzer.
    Diacritic-stripped Vietnamese falls back to the profiles (documented
    limitation: usually a low-hit Latin guess or unknown)."""
    from lucille_spark.ml.textstats import language_scores
    from lucille_spark.pipeline.stages import DetectLanguage

    fixtures = [
        (0, "Tiếng Việt là ngôn ngữ của người Việt Nam", "vi"),
        (1, "Người Việt ở đây nói tiếng Việt mỗi ngày", "vi"),
        # French diacritics (é/è/à/ç) are NOT in the vi marker set
        (2, "le chien est déjà à la maison de que près", "fr"),
        # Portuguese ã/ç likewise
        (3, "o que de uma não ação do coração", "pt"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in fixtures],
                               "doc_id long, text string")
    got = {r.doc_id: r.predicted
           for r in language_scores(df, "doc_id", "text").collect()}
    for i, _, want in fixtures:
        assert got[i] == want, (i, got[i], want)

    out = DetectLanguage(source="text", min_length=5).apply(df)
    gs = {r.doc_id: (r.language, r.language_confidence)
          for r in out.collect()}
    assert gs[0][0] == "vi" and gs[1][0] == "vi"
    assert 0.0 < gs[0][1] <= 1.0


def test_r6_script_block_breadth(spark):
    """late r6: ten more one-language script blocks (km/lo/my/si/te/kn/
    ml/gu/pa/am) — each fixture must win via the script route in both
    language_scores and the DetectLanguage stage (same strings as the
    driver gate's VALUES-oracle fixtures 21-30)."""
    from lucille_spark.gate import _LANGID_SCRIPT_FIXTURES
    from lucille_spark.ml.textstats import language_scores
    from lucille_spark.pipeline.stages import DetectLanguage

    want = {21: "km", 22: "lo", 23: "my", 24: "si", 25: "te",
            26: "kn", 27: "ml", 28: "gu", 29: "pa", 30: "am"}
    rows = [(i, t) for i, t in _LANGID_SCRIPT_FIXTURES if i in want]
    assert len(rows) == 10
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.predicted
           for r in language_scores(df, "doc_id", "text").collect()}
    for i, lang in want.items():
        assert got[i] == lang, (i, got[i], lang)

    out = DetectLanguage(source="text", min_length=5).apply(df)
    gs = {r.doc_id: (r.language, r.language_confidence)
          for r in out.collect()}
    for i, lang in want.items():
        assert gs[i][0] == lang and 0.0 < gs[i][1] <= 1.0, (i, gs[i])


# --------------------------------------- distributed spell-check twin


def test_suggest_batch_df_twin_of_searcher(spark, index_dir, tmp_path):
    """suggest_batch_df must reproduce IndexSearcher.suggest exactly per
    word (same candidates, same (dist, term) order, same exact-hit rule),
    also after two merges, whose terms have one lexicon row per commit,
    while staying a single-scan broadcast-join plan."""
    import shutil

    import numpy as np

    from lucille_spark.corpus import corpus_pdf
    from lucille_spark.index.merge import merge_index
    from lucille_spark.query.executor_df import suggest_batch_df
    from lucille_spark.query.searcher import IndexSearcher

    merged = str(tmp_path / "merged")
    shutil.copytree(index_dir, merged)
    for lo in (1000, 1040):
        merge_index(spark.createDataFrame(corpus_pdf(np.arange(lo, lo + 40))),
                    merged, fields=("content", "lang"), block_size=32,
                    docs_per_salt=64)
    for idx in (index_dir, merged):
        s = IndexSearcher(idx)
        lex_sample = list(s.reader.terms_in_range("content", None, None,
                                                  limit=3))
        words = ["xqzzy", lex_sample[0],                  # no-hit + exact
                 lex_sample[1][:-1] + "x",                # 1-edit neighbour
                 lex_sample[2] + "zz", "imprt"]           # 2-edit neighbour
        df = suggest_batch_df(spark, idx, words, k=5, max_edits=2)
        got = {}
        for r in df.collect():
            got.setdefault(r["word"], []).append((r["rank"], r["suggestion"]))
        for w in words:
            want = s.suggest(w, k=5, max_edits=2)
            have = [t for _, t in sorted(got.get(w, []))]
            assert have == want, (idx, w, have, want)

    # AQE's toString appends the pre-adaptive "Initial Plan" — audit the
    # final plan section only
    plan = (df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # one exchange for the word window, one for the lexicon's distinct terms
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Exchange hashpartitioning(word") == 1
    assert plan.count("Exchange hashpartitioning(term") == 1
    assert plan.count("Window") == 1   # best+rank share one Window op


# ------------------------------------ Solr-delegation analytics surface


def test_facet_range_df(spark):
    """Solr facet.range semantics: fixed-gap buckets, zero buckets
    emitted, out-of-range values ignored, hardend=false last bucket,
    mincount pruning."""
    from lucille_spark.query.executor_df import facet_range_df

    df = spark.createDataFrame(
        [(0.0,), (1.5,), (4.99,), (5.0,), (12.0,), (-3.0,), (None,),
         (14.99,)],
        "v double")
    got = [(r.bucket_start, r.n)
           for r in facet_range_df(df, "v", 0.0, 15.0, 5.0).collect()]
    assert got == [(0.0, 3), (5.0, 1), (10.0, 2)]
    # range not a multiple of gap: last bucket covers a full gap past
    # end (hardend=false), so 14.99 still lands in [10, 15)
    got = [(r.bucket_start, r.n)
           for r in facet_range_df(df, "v", 0.0, 12.0, 5.0).collect()]
    assert got == [(0.0, 3), (5.0, 1), (10.0, 2)]
    got = [(r.bucket_start, r.n)
           for r in facet_range_df(df, "v", 0.0, 15.0, 5.0,
                                   mincount=2).collect()]
    assert got == [(0.0, 3), (10.0, 2)]


def test_stats_field_df(spark):
    """Solr StatsComponent: count excludes nulls, missing counts them,
    sample stddev, grouped and global modes."""
    import math as m

    from lucille_spark.query.executor_df import stats_field_df

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("a", None), ("b", 10.0)],
        "g string, v double")
    rows = {r.facet_value: r
            for r in stats_field_df(df, "v", "g").collect()}
    a = rows["a"]
    assert (a["count"], a["missing"], a["min"], a["max"], a["sum"],
            a["mean"]) == (2, 1, 1.0, 3.0, 4.0, 2.0)
    assert abs(a["stddev"] - m.sqrt(2.0)) < 1e-12   # sample stddev
    b = rows["b"]
    assert (b["count"], b["missing"]) == (1, 0)
    assert b["stddev"] is None                       # n=1 -> undefined

    g = stats_field_df(df, "v").collect()[0]
    assert (g["count"], g["missing"], g["sum"]) == (3, 1, 14.0)
