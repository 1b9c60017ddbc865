"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench -q
"""

import math
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def test_corpus_is_a_function_of_the_seed():
    a, b = gen.corpus(5, 40), gen.corpus(5, 40)
    pd.testing.assert_frame_equal(a, b)
    assert not gen.corpus(6, 40)["content"].equals(a["content"])


def test_query_log_is_a_function_of_the_seed():
    assert gen.query_log(5, 300) == gen.query_log(5, 300)
    assert gen.query_log(5, 300) != gen.query_log(6, 300)
    shapes = [s for s, _, _ in gen.query_log(5, 1000)]
    for i in range(0, 1000, gen.BLOCK):  # every block holds the shares
        for shape, share in gen.SHAPES:
            assert shapes[i:i + gen.BLOCK].count(shape) == round(
                share * gen.BLOCK)


def test_delta_is_a_function_of_the_seed():
    ra, da, na = gen.delta(5, 200, 10, 4, 2)
    rb, db, nb = gen.delta(5, 200, 10, 4, 2)
    pd.testing.assert_frame_equal(ra, rb)
    assert da == db and na == nb
    assert gen.delta(6, 200, 10, 4, 2)[1] != da
    # upserts reuse base identities, deletes hit other base docs, and only
    # the new docs carry the marker
    base = gen.corpus(5, 200)
    base_ids = {gen.doc_id(r, p, c) for r, p, c in
                zip(base["repo"], base["path"], base["commit"])}
    up = {gen.doc_id(r, p, c) for r, p, c in
          zip(ra["repo"], ra["path"], ra["commit"])} - set(na)
    assert len(up) == 4 and up <= base_ids
    assert len(set(da)) == 2 and set(da) <= base_ids - up
    assert not set(na) & base_ids
    assert ra["content"].str.contains(gen.marker(5)).sum() == len(na) == 10


@pytest.mark.parametrize("n, p", [
    (19, None), (20, 50), (39, 50), (40, 75), (100, 90), (199, 90),
    (200, 95), (999, 95), (1000, 99), (10_000, 99.9)])
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert run.tail_percentile(n) == p
    if p is not None:
        values = list(range(n))
        beyond = sum(v > run.percentile(values, p) for v in values)
        assert beyond >= 10


def _bm25(docs, terms, conjunctive, k):
    """Brute-force BM25 over live docs (no history) for the reference."""
    toks = {d: c.split() for d, c in docs}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    out = []
    for d, t in toks.items():
        present = [w for w in terms if w in t]
        if not present or (conjunctive and len(present) < len(terms)):
            continue
        s = 0.0
        for w in present:
            df = sum(w in x for x in toks.values())
            idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
            tf = t.count(w)
            s += idf * (tf / (tf + 1.2 * (1 - 0.75 + 0.75 * len(t) / avgdl)))
        out.append((d, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


DOCS = [("d1", "a b c a"), ("d2", "b c"), ("d3", "a x y z w"),
        ("d4", "c c c b"), ("d5", "q r")]


@pytest.fixture()
def ref():
    r = check.Reference()
    r.add(pd.DataFrame(DOCS, columns=["doc_id", "content"]))
    yield r
    r.close()


def test_reference_matches_brute_force(ref):
    for terms, conj in ((["a"], False), (["a", "c"], False),
                        (["b", "c"], True)):
        want = _bm25(DOCS, terms, conj, 10)
        got = ref.topk(terms, 10, conjunctive=conj)
        assert check.same_topk(got[:len(want)], want, len(want))


def test_checker_flags_a_planted_wrong_topk(ref):
    want = ref.topk(["a", "c"], 3)
    assert check.same_topk(want[:3], want, 3)
    swapped = [want[1], want[0], want[2]]
    assert not check.same_topk(swapped, want, 3)
    wrong_doc = [want[0], ("d5", want[1][1]), want[2]]
    assert not check.same_topk(wrong_doc, want, 3)
    wrong_score = [want[0], (want[1][0], want[1][1] * (1 + 1e-6)), want[2]]
    assert not check.same_topk(wrong_score, want, 3)
    assert not check.same_topk(want[:2], want, 3)


def test_checker_accepts_tie_reorder_only():
    want = [("a", 2.0), ("b", 1.0), ("c", 1.0), ("d", 1.0), ("e", 0.5)]
    assert check.same_topk([("a", 2.0), ("c", 1.0), ("b", 1.0)], want, 3)
    # a boundary tie group cut by k: any members of the group will do
    assert check.same_topk([("a", 2.0), ("d", 1.0), ("c", 1.0)], want, 3)
    assert not check.same_topk([("a", 2.0), ("e", 1.0), ("c", 1.0)], want, 3)


def test_history_keeps_replaced_docs_in_df(ref):
    before = dict(ref.topk(["a"], 10))
    ref.add(pd.DataFrame([("d1", "z z")], columns=["doc_id", "content"]))
    ref.delete(["d5"])
    after = dict(ref.topk(["a"], 10))
    assert set(after) == {"d3"}            # d1's live version has no "a"
    # df("a") still counts d1's replaced version: idf is unchanged while
    # N dropped from 5 to 4 and avgdl changed
    n, df = 4, 2
    dl = {d: len(c.split()) for d, c in DOCS}
    dl["d1"], live = 2, ("d1", "d2", "d3", "d4")
    avgdl = sum(dl[d] for d in live) / n
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    want = idf * (1 / (1 + 1.2 * (1 - 0.75 + 0.75 * dl["d3"] / avgdl)))
    assert check.close(after["d3"], want)
    assert before["d3"] != after["d3"]


def test_reference_answers_every_shape_like_the_oracle():
    """The DuckDB reference against the engine's exhaustive in-memory
    oracle, on a seeded corpus and every shape of the query log."""
    from lucille_spark.query.oracle import OracleIndex

    docs = gen.corpus(3, 60)
    docs["doc_id"] = [gen.doc_id(r, p, c) for r, p, c in
                      zip(docs["repo"], docs["path"], docs["commit"])]
    oracle = OracleIndex([{"id": d, "content": c} for d, c in
                          zip(docs["doc_id"], docs["content"])])
    r = check.Reference()
    r.add(docs)
    bench = object.__new__(run.Run)  # only the reference is needed
    bench.ref = r
    seen = set()
    for entry in gen.query_log(3, 2 * gen.BLOCK):
        want = oracle.search(entry[1], 10)
        assert check.same_topk(want, bench.expected(entry, 10), 10), entry
        seen.add(entry[0])
    r.close()
    assert seen == {s for s, _ in gen.SHAPES}


def test_phrase_and_exclusion(ref):
    assert [d for d, _ in ref.topk(["a", "b"], 10, phrase=True)] == ["d1"]
    assert [d for d, _ in ref.topk(["c", "b"], 10, phrase=True)] == ["d4"]
    got = dict(ref.topk(["c"], 10, exclude=["a"]))
    assert set(got) == {"d2", "d4"}
    assert got["d2"] == dict(ref.topk(["c"], 10))["d2"]


def test_expansion(ref):
    ref.add(pd.DataFrame([("d6", "term12 term13 term123 tern12")],
                         columns=["doc_id", "content"]))
    assert ref.expand("prefix", "term1*") == ["term12", "term123", "term13"]
    assert ref.expand("wildcard", "term1?") == ["term12", "term13"]
    assert ref.expand("fuzzy", "term12~1") == [
        "term12", "term123", "term13", "tern12"]


def test_reads_end_when_every_search_raises():
    """A broken engine is counted as failed, not waited for."""
    class Broken:
        def search(self, q, k):
            raise RuntimeError("broken")

    bench = object.__new__(run.Run)
    bench.gen, bench.seconds, bench.tracer = gen, 0, None
    bench.attempted = bench.failed = 0
    bench.failures, bench.read_s, bench.dead = [], [], set()
    bench.log, bench.log_pos = gen.query_log(1, gen.BLOCK), 0
    bench.reads(Broken())
    assert bench.failed == bench.attempted == gen.BLOCK
    assert len(bench.read_s) == gen.BLOCK
