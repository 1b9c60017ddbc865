"""Index versions (``index/snapshot.py``): a build or merge becomes visible
only when its manifest is published. A merge that fails after any of its
writes leaves the previous version exactly as it was, and its retry gives
the uninterrupted merge's index. A merge replayed with the run_id of the
latest manifest writes nothing, and merges tokenize with the analyzer the
build recorded."""

import json
import math
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from lucille_spark.corpus import corpus_pdf
from lucille_spark.index import snapshot
from test_index_storage import (N_BASE, N_NEW, QUERIES, UPDATED,
                                _oracle_after_deletes)

# a commit's table writes, in order; the manifest is published last
WRITES = ("doc_stats", "_tombstones", "postings", "lexicon")
ALL_QUERIES = QUERIES + [f"content:{UPDATED.split()[0]}"]
KW = {"block_size": 32, "docs_per_salt": 64}


def _merge(spark, idx, run_id="m1"):
    """The delta of test_index_storage: new docs, 2 upserts, 2 deletes."""
    from lucille_spark.index.builder import add_doc_identity
    from lucille_spark.index.merge import merge_index

    old = corpus_pdf(np.arange(4))
    old["content"] = UPDATED
    delta = pd.concat([corpus_pdf(np.arange(N_BASE, N_BASE + N_NEW)),
                       old.iloc[:2]], ignore_index=True)
    gone = add_doc_identity(spark.createDataFrame(old.iloc[2:])) \
        .select("doc_id")
    return merge_index(spark.createDataFrame(delta), idx, deletes=gone,
                       run_id=run_id, **KW)


def _topk(idx):
    from lucille_spark.query.searcher import IndexSearcher

    searcher = IndexSearcher(idx)
    return {q: searcher.search(q, 10) for q in ALL_QUERIES}


def _assert_matches_oracle(got):
    oracle = _oracle_after_deletes()
    for q, hits in got.items():
        want = oracle.search(q, 10)
        assert [d for d, _ in hits] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(hits, want):
            assert math.isclose(gs, ws, rel_tol=1e-9), q


def _copy(src, tmp_path, name="idx"):
    dst = str(tmp_path / name)
    shutil.copytree(src, dst)
    return dst


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    from lucille_spark.index.builder import build_index

    out = str(tmp_path_factory.mktemp("snapshot") / "base")
    build_index(spark.createDataFrame(corpus_pdf(np.arange(N_BASE))), out,
                **KW)
    return out


@pytest.fixture(scope="module")
def base_topk(base):
    return _topk(base)


@pytest.fixture(scope="module")
def merged(spark, base, tmp_path_factory):
    """The uninterrupted merge."""
    idx = str(tmp_path_factory.mktemp("snapshot") / "merged")
    shutil.copytree(base, idx)
    _merge(spark, idx)
    return idx


@pytest.mark.parametrize("step", [*WRITES, "manifest"])
def test_crash_after_each_merge_write(spark, base, base_topk, merged,
                                      tmp_path, monkeypatch, step):
    import lucille_spark.index.builder as builder

    idx = _copy(base, tmp_path)
    version = snapshot.load(idx)["version"]
    written = []
    if step == "manifest":
        def link(src, dst):  # the manifest is staged, its link fails
            raise OSError("crash before the manifest link")

        monkeypatch.setattr(snapshot.os, "link", link)
    else:
        real = builder.write_index_table

        def write(data, path, *args, **kwargs):
            out = real(data, path, *args, **kwargs)
            if os.path.basename(path) == "_lineage":  # a stage's row
                return out
            written.append(os.path.basename(path))
            if len(written) == WRITES.index(step) + 1:
                raise RuntimeError(f"crash after the {step} write")
            return out

        monkeypatch.setattr(builder, "write_index_table", write)
    with pytest.raises((RuntimeError, OSError), match="crash"):
        _merge(spark, idx)
    monkeypatch.undo()
    assert written == list(WRITES[:len(written)])

    # the crash left staged files behind, but no reader sees them
    m = snapshot.load(idx)
    assert m["version"] == version
    table = "postings" if step == "manifest" else step
    assert len(snapshot.data_files(os.path.join(idx, table))) > len(
        m["files"][table])
    assert os.listdir(os.path.join(idx, "_meta")) == [
        f"{version:010d}.json"]
    assert _topk(idx) == base_topk

    # the retry (same run_id) gives the uninterrupted merge's index
    _merge(spark, idx)
    assert snapshot.load(idx)["version"] == version + 1
    got = _topk(idx)
    assert got == _topk(merged)
    _assert_matches_oracle(got)


def test_crash_after_publish_keeps_the_new_version(spark, base, merged,
                                                   tmp_path, monkeypatch):
    import lucille_spark.index.builder as builder

    idx = _copy(base, tmp_path)

    real = builder._Ledger.record

    def record(self, stage, *args):  # the lexicon row follows the publish
        if stage == "lexicon":
            raise RuntimeError("crash after the publish")
        return real(self, stage, *args)

    monkeypatch.setattr(builder._Ledger, "record", record)
    with pytest.raises(RuntimeError, match="crash"):
        _merge(spark, idx)
    monkeypatch.undo()
    published = snapshot.load(idx)
    assert published["run_id"] == "m1"
    assert _topk(idx) == _topk(merged)
    # the retry is a replay: the recorded counts, nothing written
    assert _merge(spark, idx)["tombstoned"] == 4
    assert snapshot.load(idx) == published


def test_replayed_merge_is_a_noop(spark, base, tmp_path):
    from lucille_spark.index.merge import merge_index

    idx = _copy(base, tmp_path)
    first = _merge(spark, idx, run_id="b7")
    once = snapshot.load(idx)
    assert (first["added"], first["tombstoned"]) == (N_NEW + 2, 4)
    again = _merge(spark, idx, run_id="b7")
    assert snapshot.load(idx) == once
    assert (again["added"], again["tombstoned"]) == (N_NEW + 2, 4)
    assert again["avgdl"] == first["avgdl"]
    tomb_dir = os.path.join(idx, "_tombstones")
    assert sorted(snapshot.data_files(tomb_dir)) == \
        once["files"]["_tombstones"]
    _assert_matches_oracle(_topk(idx))

    # merges without a run_id get fresh ones, so both apply
    new = spark.createDataFrame(
        corpus_pdf(np.arange(N_BASE + N_NEW, N_BASE + N_NEW + 5)))
    merge_index(new, idx, **KW)
    res = merge_index(new, idx, **KW)
    m = snapshot.load(idx)
    assert m["version"] == once["version"] + 2
    assert res["tombstoned"] == 5
    assert m["ord_span"] == once["ord_span"] + 10


def test_reader_keeps_its_version_through_two_commits(spark, base,
                                                      tmp_path, monkeypatch):
    """No commit deletes a data file, so a reader keeps answering as a
    reader on a copy of its version through two commits, and an open that
    races two commits between snapshot.load and its lexicon read answers
    as the version it loaded."""
    from lucille_spark.index.merge import merge_index
    from lucille_spark.query.searcher import IndexSearcher

    idx = _copy(base, tmp_path)
    searcher = IndexSearcher(idx)
    version = int(searcher.reader.version())

    def commit(i):
        merge_index(spark.createDataFrame(corpus_pdf(
            np.arange(N_BASE + 10 * i, N_BASE + 10 * i + 10))), idx, **KW)

    commit(0)
    commit(1)
    assert all(map(os.path.exists, snapshot.paths(
        idx, searcher.reader.manifest, "lexicon")))
    same = IndexSearcher(base)
    for term in ("import", "test", "return", "no_such_term"):
        assert searcher.reader.term_info("content", term) == \
            same.reader.term_info("content", term)
        assert searcher.reader.blocks("content", term).equals(
            same.reader.blocks("content", term))
    for q in ALL_QUERIES:
        assert searcher.search(q, 10) == same.search(q, 10), q
    loaded = IndexSearcher(idx)
    assert loaded.reader.version() == str(version + 2)

    real = snapshot.load

    def load_racing_two_commits(index_dir):
        manifest = real(index_dir)
        monkeypatch.setattr(snapshot, "load", real)
        commit(2)
        commit(3)
        return manifest

    monkeypatch.setattr(snapshot, "load", load_racing_two_commits)
    raced = IndexSearcher(idx)
    assert snapshot.load(idx)["version"] == version + 4
    assert raced.reader.version() == str(version + 2)
    for term in ("import", "test", "return", "no_such_term"):
        assert raced.reader.term_info("content", term) == \
            loaded.reader.term_info("content", term)
    for q in ALL_QUERIES:
        assert raced.search(q, 10) == loaded.search(q, 10), q


def test_reader_keeps_its_version_through_a_rebuild(spark, tmp_path):
    """A build into a directory that holds an index appends its files
    and lists only its own, so a reader opened on the previous version
    keeps answering as that version did, and the new version answers the
    new corpus as a build into an empty directory does."""
    from lucille_spark.index.builder import build_index
    from lucille_spark.query.searcher import IndexSearcher

    idx = str(tmp_path / "idx")
    build_index(spark.createDataFrame(corpus_pdf(np.arange(200))), idx,
                run_id="a")
    old = IndexSearcher(idx)  # reads its postings on its first search
    before = _topk(idx)
    rebuilt = corpus_pdf(np.arange(1000, 1200))
    build_index(spark.createDataFrame(rebuilt), idx, run_id="b")
    assert {q: old.search(q, 10) for q in ALL_QUERIES} == before
    fresh = str(tmp_path / "fresh")
    build_index(spark.createDataFrame(rebuilt), fresh, run_id="b")
    manifest = snapshot.load(idx)
    assert (manifest["version"], manifest["run_id"]) == (2, "b")
    assert manifest["stats"] == snapshot.load(fresh)["stats"]
    assert _topk(idx) == _topk(fresh)


def _rows(idx, table):
    return sorted(map(tuple, pq.read_table(
        snapshot.paths(idx, snapshot.load(idx), table),
        partitioning=None).to_pandas().itertuples(index=False)))


def test_resume_after_a_crash_before_the_publish(spark, tmp_path,
                                                 monkeypatch):
    """A build that crashed in its lexicon write, before its publish,
    resumes: the doc_stats and postings files its stages staged are
    listed untouched, the crashed attempt's lexicon file is listed
    nowhere, and the rows equal a clean build's."""
    import lucille_spark.index.builder as builder

    corpus = spark.createDataFrame(corpus_pdf(np.arange(N_BASE)))
    idx = str(tmp_path / "idx")
    real = builder.write_index_table

    def write(data, path):
        out = real(data, path)
        if os.path.basename(path) == "lexicon":
            raise RuntimeError("crash after the lexicon write")
        return out

    monkeypatch.setattr(builder, "write_index_table", write)
    with pytest.raises(RuntimeError, match="crash"):
        builder.build_index(corpus, idx, run_id="r1", **KW)
    monkeypatch.undo()
    assert snapshot.latest(idx) is None
    orphans = snapshot.data_files(os.path.join(idx, "lexicon"))
    assert orphans

    def mtimes(table):
        return {n: os.stat(os.path.join(idx, table, n)).st_mtime
                for n in snapshot.data_files(os.path.join(idx, table))}

    staged = {t: mtimes(t) for t in ("doc_stats", "postings")}
    time.sleep(1.1)
    builder.build_index(corpus, idx, run_id="r1", resume=True, **KW)
    manifest = snapshot.load(idx)
    for table, before in staged.items():
        assert mtimes(table) == before, table
        assert manifest["files"][table] == sorted(before), table
    assert not orphans & set(manifest["files"]["lexicon"])
    clean = str(tmp_path / "clean")
    builder.build_index(corpus, clean, run_id="r2", **KW)
    for table in ("postings", "lexicon", "doc_stats"):
        assert _rows(idx, table) == _rows(clean, table), table
    assert manifest["stats"] == snapshot.load(clean)["stats"]


def test_index_without_manifest_must_be_rebuilt(base, tmp_path):
    from lucille_spark.index.reader import IndexReader

    idx = _copy(base, tmp_path)
    shutil.rmtree(os.path.join(idx, "_meta"))
    with pytest.raises(FileNotFoundError, match="rebuilt"):
        IndexReader(idx)


def test_index_of_an_older_format_must_be_rebuilt(spark, base, tmp_path):
    """A manifest without the current format (one written before merges
    appended lexicon rows) is refused by the reader and by a merge alike,
    before either reads a data file."""
    from lucille_spark.index.merge import merge_index
    from lucille_spark.index.reader import IndexReader

    idx = _copy(base, tmp_path)
    path = os.path.join(idx, "_meta", sorted(os.listdir(
        os.path.join(idx, "_meta")))[-1])
    with open(path) as f:
        manifest = json.load(f)
    assert manifest.pop("format") == snapshot.FORMAT == 4
    with open(path, "w") as f:
        json.dump(manifest, f)
    with pytest.raises(FileNotFoundError, match="rebuilt"):
        IndexReader(idx)
    with pytest.raises(FileNotFoundError, match="rebuilt"):
        merge_index(spark.createDataFrame(corpus_pdf(np.arange(
            N_BASE, N_BASE + 5))), idx, **KW)
    assert snapshot.latest(idx) == manifest  # the merge published nothing


def test_a_format_3_index_must_be_rebuilt(base, tmp_path):
    """A format-3 manifest (its lexicon rows carried cf, n_blocks,
    max_tfnorm and bound_avgdl) is refused with the rebuild message."""
    from lucille_spark.index.reader import IndexReader

    idx = _copy(base, tmp_path)
    path = os.path.join(idx, "_meta", sorted(os.listdir(
        os.path.join(idx, "_meta")))[-1])
    with open(path) as f:
        manifest = json.load(f)
    with open(path, "w") as f:
        json.dump({**manifest, "format": 3}, f)
    for open_ in (snapshot.load, IndexReader):
        with pytest.raises(FileNotFoundError,
                           match="no format-4 index manifest.*rebuilt"):
            open_(idx)


def test_publish_is_no_replace_and_keeps_one_previous_version(tmp_path):
    idx = str(tmp_path / "idx")
    lex = tmp_path / "idx" / "lexicon"
    lex.mkdir(parents=True)

    def publish(base, run_id, lexicon):
        for name in lexicon:
            (lex / name).write_bytes(b"")
        return snapshot.publish(
            idx, base, run_id=run_id, ord_span=0, analyzer="standard",
            stats={}, files={"lexicon": lexicon}, added=0, tombstoned=0)

    v1 = publish(None, "a", ["l1"])
    v2 = publish(v1, "b", ["l2"])
    with pytest.raises(FileExistsError):  # a racing writer of version 2
        publish(v1, "c", ["l3"])
    assert snapshot.load(idx) == v2
    v3 = publish(v2, "d", ["l4"])
    # version 1's manifest is gone; versions 2 and 3 stay whole, and
    # publishing deletes no data file
    assert sorted(os.listdir(os.path.join(idx, "_meta"))) == [
        "0000000002.json", "0000000003.json"]
    assert sorted(os.listdir(lex)) == ["l1", "l2", "l3", "l4"]
    with open(os.path.join(idx, "_meta", "0000000003.json")) as f:
        assert json.load(f) == v3
    assert v3["files"] == {"postings": [], "lexicon": ["l4"],
                           "doc_stats": [], "_tombstones": []}


CODE_DOC = "def bazQux(): return fooBar"


def test_merge_tokenizes_with_the_build_analyzer(spark, tmp_path):
    from lucille_spark.index.builder import add_doc_identity, build_index
    from lucille_spark.index.merge import merge_index
    from lucille_spark.query.searcher import IndexSearcher

    idx = str(tmp_path / "code")
    build_index(spark.createDataFrame(corpus_pdf(np.arange(50))), idx,
                analyzer="code")
    doc = corpus_pdf(np.arange(50, 51))
    doc["content"] = CODE_DOC
    merge_index(spark.createDataFrame(doc), idx)
    assert snapshot.load(idx)["analyzer"] == "code"
    want = add_doc_identity(spark.createDataFrame(doc)).first()["doc_id"]
    for q in ("content:qux", "content:baz", "content:bar"):
        assert [d for d, _ in IndexSearcher(idx).search(q, 5)] == [want], q


def test_streaming_indexer_code_analyzer_every_batch(spark, tmp_path):
    from lucille_spark.pipeline import Pipeline
    from lucille_spark.query.searcher import IndexSearcher
    from lucille_spark.streaming import StreamingIndexer

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    idx = str(tmp_path / "live")
    schema = ("repo string, path string, commit string, lang string, "
              "content string")
    indexer = StreamingIndexer(
        spark, Pipeline([]), index_dir=idx,
        checkpoint_dir=str(tmp_path / "chk"), analyzer="code")

    def batch(n, content):
        (inbox / f"b{n}.jsonl").write_text(json.dumps(
            {"repo": "o/r", "path": f"f{n}.py", "commit": "c0",
             "lang": "py", "content": content}) + "\n")
        indexer.from_json_files(str(inbox), schema)

    batch(1, "class alphaBeta: pass")
    batch(2, CODE_DOC)
    s = IndexSearcher(idx)
    assert snapshot.load(idx)["analyzer"] == "code"
    assert len(s.search("content:beta", 5)) == 1
    assert len(s.search("content:qux", 5)) == 1


def test_streaming_indexer_first_batch_keeps_the_last_write(spark,
                                                            tmp_path):
    """The bootstrap batch resolves a repeated id by ``order_col`` as
    merge_index does for later batches: the higher ``seq`` wins in
    batch 0, and batch 1 merges with the same rule."""
    from lucille_spark.index.builder import add_doc_identity
    from lucille_spark.pipeline import Pipeline
    from lucille_spark.query.searcher import IndexSearcher
    from lucille_spark.streaming import StreamingIndexer

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    idx = str(tmp_path / "live")
    cols = ("repo", "path", "commit", "lang", "content", "seq")
    schema = ("repo string, path string, commit string, lang string, "
              "content string, seq long")
    indexer = StreamingIndexer(
        spark, Pipeline([]), index_dir=idx,
        checkpoint_dir=str(tmp_path / "chk"), corpus_cols=cols,
        order_col="seq")

    def doc(path, content, seq):
        return {"repo": "o/r", "path": path, "commit": "c0", "lang": "py",
                "content": content, "seq": seq}

    def batch(n, docs):
        (inbox / f"b{n}.jsonl").write_text(
            "".join(json.dumps(d) + "\n" for d in docs))
        indexer.from_json_files(str(inbox), schema)

    # a repeated id's rows disagree on content; each batch has two ids
    # whose seq winners are opposite contents, so no content_sha256
    # order picks both winners
    ids = {p: add_doc_identity(spark.createDataFrame(
        [("o/r", p, "c0", "")], "repo string, path string, commit string, "
        "content string")).first()["doc_id"] for p in ("a.py", "b.py",
                                                       "c.py")}

    def found(q):
        return [d for d, _ in IndexSearcher(idx).search(f"content:{q}", 10)]

    batch(0, [doc("a.py", "apple", 2), doc("a.py", "zebra", 1),
              doc("b.py", "apple", 1), doc("b.py", "zebra", 2)])
    assert snapshot.load(idx)["stats"]["content"]["n_docs"] == 2
    assert found("apple") == [ids["a.py"]]
    assert found("zebra") == [ids["b.py"]]
    batch(1, [doc("a.py", "kiwi", 3), doc("a.py", "melon", 1),
              doc("c.py", "kiwi", 1), doc("c.py", "melon", 3)])
    assert snapshot.load(idx)["stats"]["content"]["n_docs"] == 3
    assert found("kiwi") == [ids["a.py"]]
    assert found("zebra") == [ids["b.py"]]
    assert found("melon") == [ids["c.py"]]
    assert found("apple") == []
