"""IndexReader lookups equal brute-force reads of the manifest's files.

The index is the 800-doc range-layout build (``docs_per_salt=64``,
``block_size=32``) over two fields, with two merges on it, so postings,
lexicon and doc_stats each span several files, a merged term has one
lexicon row per commit that wrote it, and row groups hold more than one
field. The expected lexicon is folded from the postings, not read from
the lexicon files."""

import fnmatch
import os
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lucille_spark.corpus import corpus_pdf
from lucille_spark.index import snapshot

KW = {"fields": ("content", "lang"), "block_size": 32, "docs_per_salt": 64}
UNSTORED = "no_such_field"


@pytest.fixture(scope="module")
def commits(spark, tmp_path_factory):
    """The index and its manifest after the build and after each merge."""
    from lucille_spark.index.builder import add_doc_identity, build_index
    from lucille_spark.index.merge import merge_index

    idx = str(tmp_path_factory.mktemp("lookups") / "idx")
    build_index(spark.createDataFrame(corpus_pdf(np.arange(800))), idx, **KW)
    manifests = [snapshot.load(idx)]
    for lo, hi, upserts, deletes in ((800, 860, range(4), range(4, 8)),
                                     (860, 900, range(800, 803), [8])):
        old = corpus_pdf(np.array([*upserts, *deletes]))
        old["content"] = "rewritten " + old["content"]
        delta = pd.concat([corpus_pdf(np.arange(lo, hi)),
                           old.iloc[:len(upserts)]], ignore_index=True)
        gone = add_doc_identity(spark.createDataFrame(
            old.iloc[len(upserts):])).select("doc_id")
        merge_index(spark.createDataFrame(delta), idx, deletes=gone, **KW)
        manifests.append(snapshot.load(idx))
    return idx, manifests


@pytest.fixture(scope="module")
def index(commits):
    return commits[0]


def _read(idx, table):
    m = snapshot.load(idx)
    return pa.concat_tables([pq.read_table(p) for p in snapshot.paths(
        idx, m, table)])


@pytest.fixture(scope="module")
def lexicon(index):
    """Each (field, term)'s lexicon row, folded from its postings rows."""
    by_field = defaultdict(dict)
    for r in _read(index, "postings").to_pylist():
        row = by_field[r["field"]].get(r["term"])
        if row is None:
            by_field[r["field"]][r["term"]] = {
                "field": r["field"], "term": r["term"], "df": r["n_docs"],
                "cf": r["sum_tf"], "n_blocks": 1,
                "max_tfnorm": r["block_max_tfnorm"],
                "bound_avgdl": r["bound_avgdl"]}
        else:
            row["df"] += r["n_docs"]
            row["cf"] += r["sum_tf"]
            row["n_blocks"] += 1
            row["max_tfnorm"] = max(row["max_tfnorm"], r["block_max_tfnorm"])
            row["bound_avgdl"] = min(row["bound_avgdl"], r["bound_avgdl"])
    return by_field


def test_index_spans_several_files(index):
    files = snapshot.load(index)["files"]
    for table in ("postings", "lexicon", "doc_stats", "_tombstones"):
        assert len(files[table]) > 1, (table, files[table])


def test_a_merge_adds_the_lexicon_rows_of_its_blocks(commits):
    """The lexicon files a merge adds hold one row per (field, term) of
    the postings blocks it adds, and the files it merges into stay."""
    idx, manifests = commits

    def added(old, new, table):
        """(field, term) of every row of the files ``new`` adds."""
        kept = set(old["files"][table])
        assert kept < set(new["files"][table])
        rows = pa.concat_tables([
            pq.read_table(os.path.join(idx, table, name),
                          columns=["field", "term"])
            for name in new["files"][table] if name not in kept])
        return list(zip(rows["field"].to_pylist(), rows["term"].to_pylist()))

    for old, new in zip(manifests, manifests[1:]):
        keys = added(old, new, "lexicon")
        assert len(keys) == len(set(keys))
        assert set(keys) == set(added(old, new, "postings"))


def test_term_info_and_blocks(index, lexicon, monkeypatch):
    from lucille_spark.index.reader import IndexReader

    reads = []
    real = pq.ParquetFile.read_row_group

    def count(self, i, *args, **kwargs):
        reads.append(i)
        return real(self, i, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", count)
    postings = defaultdict(list)
    for row in _read(index, "postings").to_pylist():
        postings[row["field"], row["term"]].append(row)
    rd = IndexReader(index)
    for field, terms in lexicon.items():
        for term, row in terms.items():
            assert rd.term_info(field, term) == row
            want = sorted(postings[field, term], key=lambda r: r["first_doc"])
            assert rd.blocks(field, term).to_pylist() == want
    assert len(postings) == sum(map(len, lexicon.values()))
    # every row group holds some term, and each was read once
    assert len(reads) == sum(pq.read_metadata(p).num_row_groups for p in
                             snapshot.paths(index, rd.manifest, "postings"))
    for field, term in (("content", "zzzz_unknown"), (UNSTORED, "import")):
        assert rd.term_info(field, term) is None
        assert rd.blocks(field, term).num_rows == 0
        assert rd.decode_term_flat(field, term)[0].size == 0


def test_expansions(index, lexicon):
    from lucille_spark.index.reader import IndexReader
    from lucille_spark.query.parser import levenshtein

    rd = IndexReader(index)
    terms = sorted(lexicon["content"])
    assert "import" in terms
    # "impors" bumps to "import", a term that does not start with it
    for prefix, limit in (("re", 1024), ("t", 5), ("", 1024), ("zzq", 9),
                          ("impors", 1024)):
        assert rd.terms_with_prefix("content", prefix, limit) == [
            t for t in terms if t.startswith(prefix)][:limit]
    for lo, hi in (("c", "i"), ("import", "return"), (None, "d"),
                   ("s", None), ("x", "b")):
        for inc_lo in (True, False):
            for inc_hi in (True, False):
                want = [t for t in terms
                        if (lo is None or t > lo or (inc_lo and t == lo))
                        and (hi is None or t < hi or (inc_hi and t == hi))]
                assert rd.terms_in_range("content", lo, hi, inc_lo, inc_hi,
                                         limit=7) == want[:7], (lo, hi)
    for pattern in ("re*", "*ort", "?mport", "t*m*", "*", "i?p*t"):
        assert rd.terms_wildcard("content", pattern) == [
            t for t in terms if fnmatch.fnmatchcase(t, pattern)][:1024], \
            pattern
    for text, edits in (("imprt", 1), ("retrun", 2), ("lass", 1)):
        want = sorted((levenshtein(text, t, cap=edits), t) for t in terms)
        assert rd.terms_fuzzy("content", text, edits) == [
            t for d, t in want if d <= edits][:50], text
    assert rd.terms_with_prefix(UNSTORED, "") == []
    assert rd.terms_fuzzy(UNSTORED, "import") == []


def test_doc_stats_lookups(index):
    from lucille_spark.index.reader import IndexReader

    rows = _read(index, "doc_stats").to_pydict()
    rd = IndexReader(index)
    span = rd.ord_span()
    assert sorted(rows["doc_ord"]) == list(range(span))
    ords = np.arange(span, dtype=np.int64)
    assert rd.doc_ids_for_ords(ords.tolist()) == dict(zip(
        rows["doc_ord"], rows["doc_id"]))
    for field in ("content", "lang"):
        dl = np.zeros(span, dtype=np.int64)
        dl[rows["doc_ord"]] = rows[f"dl_{field}"]
        assert rd.doc_lengths(field).tolist() == dl.tolist()
    # holes: ordinals past the span have no row
    probe = np.array([0, 5, span - 1, span, span + 7], dtype=np.int64)
    by_ord = dict(zip(rows["doc_ord"], rows["repo"]))
    assert rd.doc_values("repo", probe).tolist() == [
        by_ord.get(int(o)) for o in probe]
    assert rd.doc_values(UNSTORED, probe) is None
    assert rd.doc_values(UNSTORED, probe[:0]).size == 0
