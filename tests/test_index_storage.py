"""Index storage format: every table is written by
``builder.write_index_table`` with zstd pages and no statistics on the
postings payload columns, while every other column keeps the min/max that
row-group pruning reads. Indexes written with another codec (Spark's
default snappy) stay readable and mergeable. Postings follow
``builder.postings_layout``: a build under ``docs_per_salt`` tokens is one
term-sorted file, a salted build is range-partitioned on term. Every
lexicon file is sorted by (field, term), and a merge appends its own."""

import hashlib
import math
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lucille_spark.corpus import corpus_pdf
from lucille_spark.query.oracle import OracleIndex

TABLES = ("postings", "lexicon", "doc_stats", "_tombstones", "_lineage")
PAYLOAD = ("doc_gaps", "tfs", "positions")
N_BASE, N_NEW = 300, 60
QUERIES = ["content:test OR content:giraffe",
           "content:return AND content:import",
           'content:"import test"', "content:if", "content:imp*",
           "content:koala OR content:ident_collide"]
UPDATED = "zzzupdated content words"


def _data_files(table_dir):
    """The parquet data files of a table (the _meta manifests are JSON)."""
    for dirpath, _, names in os.walk(table_dir):
        for name in sorted(names):
            if not name.startswith((".", "_")) and name.endswith(".parquet"):
                yield os.path.join(dirpath, name)


def _frame(spark, ids):
    return spark.createDataFrame(corpus_pdf(np.asarray(ids)))


def _merge_new(spark, idx):
    from lucille_spark.index.merge import merge_index

    merge_index(_frame(spark, range(N_BASE, N_BASE + N_NEW)), idx,
                block_size=32, docs_per_salt=64)


@pytest.fixture(scope="module")
def base_index(spark, tmp_path_factory):
    from lucille_spark.index.builder import build_index

    out = str(tmp_path_factory.mktemp("storage") / "base")
    build_index(_frame(spark, range(N_BASE)), out, block_size=32,
                docs_per_salt=64)
    return out


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    """A build of fewer than ``docs_per_salt`` tokens, written with 16 KB
    row groups so that its one postings file holds many of them."""
    from lucille_spark.index.builder import build_index

    out = str(tmp_path_factory.mktemp("storage") / "small")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    before = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", str(16 << 10))
    try:
        build_index(_frame(spark, range(N_BASE)), out, block_size=32)
    finally:
        if before is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", before)
    return out


def _merge_with_deletes(spark, base, idx, docs_per_salt):
    """Copy ``base`` to ``idx`` and merge a delta of new docs, 2 upserts
    and 2 deletes into it."""
    from lucille_spark.index.builder import add_doc_identity
    from lucille_spark.index.merge import merge_index

    shutil.copytree(base, idx)
    old = corpus_pdf(np.arange(4))
    old["content"] = UPDATED
    delta = spark.createDataFrame(pd.concat(
        [corpus_pdf(np.arange(N_BASE, N_BASE + N_NEW)), old.iloc[:2]],
        ignore_index=True))
    gone = add_doc_identity(spark.createDataFrame(old.iloc[2:])) \
        .select("doc_id")
    res = merge_index(delta, idx, deletes=gone, block_size=32,
                      docs_per_salt=docs_per_salt)
    assert res["tombstoned"] == 4
    return idx


@pytest.fixture(scope="module")
def merged_with_deletes(spark, base_index, tmp_path_factory):
    """The salted base index plus a delta of new docs, upserts and
    deletes."""
    return _merge_with_deletes(
        spark, base_index,
        str(tmp_path_factory.mktemp("storage") / "deletes"), 64)


@pytest.fixture(scope="module")
def small_merged_with_deletes(spark, small_index, tmp_path_factory):
    return _merge_with_deletes(
        spark, small_index,
        str(tmp_path_factory.mktemp("storage") / "small_deletes"), 1 << 17)


def _term_ranges(path):
    """(min, max) term statistics of each row group of a postings file."""
    md = pq.ParquetFile(path).metadata
    out = []
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        col = next(rg.column(c) for c in range(md.num_columns)
                   if rg.column(c).path_in_schema == "term")
        out.append((col.statistics.min, col.statistics.max))
    return out


def test_small_build_is_one_term_sorted_file(small_index):
    files = list(_data_files(os.path.join(small_index, "postings")))
    assert len(files) == 1
    ranges = _term_ranges(files[0])
    assert len(ranges) > 1
    bounds = [t for r in ranges for t in r]
    assert bounds == sorted(bounds)
    rows = pq.read_table(files[0], columns=[
        "field", "term", "first_doc"]).to_pylist()
    keys = [(r["field"], r["term"], r["first_doc"]) for r in rows]
    assert keys == sorted(keys)


def test_salted_build_keeps_range_layout(base_index):
    spans = []
    for path in _data_files(os.path.join(base_index, "postings")):
        ranges = _term_ranges(path)
        if ranges:  # a Spark write may add a row-group-less schema file
            spans.append((min(lo for lo, _ in ranges),
                          max(hi for _, hi in ranges)))
    assert len(spans) > 1
    spans.sort()
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi < lo, spans


def test_postings_layout_routes(spark):
    """One term-sorted encode partition per field is written as it is;
    otherwise the write is range-partitioned on (field, term)."""
    from lucille_spark.index.builder import POSTINGS_SCHEMA, postings_layout

    blocks = spark.createDataFrame(
        [("content", t, 0, 0, 1, b"", b"", None, 0.5, 1.0)
         for t in ("a", "b")], POSTINGS_SCHEMA)

    def plan(totals, docs_per_salt):
        return postings_layout(blocks, ("content",), totals, docs_per_salt) \
            ._jdf.queryExecution().executedPlan().toString()

    assert "rangepartitioning" not in plan({"content": 64}, 64)
    assert "rangepartitioning" in plan({"content": 65}, 64)
    assert "rangepartitioning" in plan({}, 64)  # an unknown total


def test_doc_stats_files_follow_the_postings_rule(spark, small_index,
                                                  base_index):
    """A small build writes its doc_stats as one file, as it writes its
    postings and lexicon; a salted build writes one per partition of its
    spread input."""
    from lucille_spark.corpus import spread_small_input
    from lucille_spark.index import snapshot

    def files(idx):
        return len(snapshot.load(idx)["files"]["doc_stats"])

    assert files(small_index) == 1
    assert files(base_index) == spread_small_input(
        _frame(spark, range(N_BASE))).rdd.getNumPartitions() > 1


def test_lexicon_files_are_term_sorted(base_index, merged_with_deletes,
                                       small_index,
                                       small_merged_with_deletes):
    """Every lexicon file of a build and of a merge is sorted by (field,
    term), a merge keeps the files of the version it merges into, and a
    small build or merge writes one lexicon file."""
    from lucille_spark.index import snapshot

    def files(idx):
        return snapshot.paths(idx, snapshot.load(idx), "lexicon")

    def names(idx):
        return {os.path.basename(p) for p in files(idx)}

    assert len(files(small_index)) == 1
    assert len(files(small_merged_with_deletes)) == 2
    for build, merged in ((base_index, merged_with_deletes),
                          (small_index, small_merged_with_deletes)):
        assert names(build) < names(merged)
        for path in files(merged):
            rows = pq.read_table(path, columns=["field", "term"]).to_pylist()
            keys = [(r["field"], r["term"]) for r in rows]
            assert keys == sorted(keys), path


def test_lexicon_files_follow_the_postings_rule(spark, base_index,
                                                merged_with_deletes,
                                                tmp_path):
    """A salted build and a non-small merge write at most as many lexicon
    files as postings files, ``max(defaultParallelism, 8)``, however many
    shuffle partitions the session has, and the same lexicon rows."""
    from lucille_spark.index import snapshot
    from lucille_spark.index.builder import build_index

    def rows(idx, manifest=None):
        paths = snapshot.paths(idx, manifest or snapshot.load(idx),
                               "lexicon")
        return paths, sorted(map(tuple, pq.read_table(
            paths, partitioning=None).to_pandas().itertuples(index=False)))

    limit = max(spark.sparkContext.defaultParallelism, 8)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "24")
    try:
        built = str(tmp_path / "base")
        build_index(_frame(spark, range(N_BASE)), built, block_size=32,
                    docs_per_salt=64)
        base = snapshot.load(built)
        merged = _merge_with_deletes(spark, built, str(tmp_path / "merged"),
                                     64)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)

    build_paths, build_rows = rows(built, base)
    assert 1 < len(build_paths) <= limit
    assert build_rows == rows(base_index)[1]
    merge_paths, merge_rows = rows(merged)
    added = len(merge_paths) - len(build_paths)
    assert 1 < added <= limit
    assert merge_rows == rows(merged_with_deletes)[1]


def _doc_id(row):
    return hashlib.sha256(
        f"{row.repo}\x00{row.path}\x00{row.commit}".encode()).hexdigest()


def _oracle_after_deletes():
    """OracleIndex over the live docs after :func:`_merge_with_deletes`.
    The index keeps counting replaced and deleted docs in df until a
    compaction, as Lucene does, so df comes from the ingest history."""
    pdf = corpus_pdf(np.arange(N_BASE + N_NEW))
    new = pdf.iloc[:2].copy()
    new["content"] = UPDATED

    def index(frame):
        return OracleIndex([{"id": _doc_id(r), "content": r.content}
                            for r in frame.itertuples()],
                           fields=("content",))

    live = index(pd.concat([pdf.iloc[4:], new]))
    live.df = index(pd.concat([pdf, new])).df
    return live


@pytest.mark.parametrize("route", ["small", "salted"])
def test_merged_layouts_match_oracle(route, request):
    from lucille_spark.query.searcher import IndexSearcher

    idx = request.getfixturevalue(
        {"small": "small_merged_with_deletes",
         "salted": "merged_with_deletes"}[route])
    if route == "small":  # the build's file plus the delta's one file
        assert len(list(_data_files(os.path.join(idx, "postings")))) == 2
    oracle, searcher = _oracle_after_deletes(), IndexSearcher(idx)
    for q in QUERIES + [f"content:{UPDATED.split()[0]}"]:
        got, want = searcher.search(q, 10), oracle.search(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9), q


def test_merged_index_scores_with_doc_stats_lengths(
        spark, merged_with_deletes, monkeypatch):
    """Postings carry no doc lengths: after a merge with upserts that
    change a doc's length, and deletes, search scores each posting with
    the dl of its own ordinal from doc_stats. One window over the span and
    many small windows with skipping return bit-equal hits on term, OR,
    AND and phrase queries, search_batch returns the same, and all of them
    agree with the oracle over the live docs."""
    import lucille_spark.query.searcher as S
    import pyarrow.dataset as ds

    from lucille_spark import BM25_B, BM25_K1
    from lucille_spark.index import snapshot
    from lucille_spark.query.executor_df import search_batch

    word = UPDATED.split()[0]
    queries = QUERIES + [f"content:{word}", f"content:{word} OR content:if",
                         f"content:{word} AND content:words",
                         f'content:"{word} content"']
    got = {}
    for q in queries:
        monkeypatch.setattr(S, "VEC_POSTINGS_MAX", 1 << 62)
        vec = S.IndexSearcher(merged_with_deletes).search(q, 10)
        monkeypatch.setattr(S, "VEC_POSTINGS_MAX", 16)
        windowed = S.IndexSearcher(merged_with_deletes).search(q, 10)
        assert vec == windowed, q
        got[q] = vec
    monkeypatch.undo()

    rows = search_batch(spark, merged_with_deletes,
                        list(zip(map(str, range(len(queries))), queries)),
                        k=10).collect()
    batch = {q: [] for q in queries}
    for r in sorted(rows, key=lambda r: (int(r["query_id"]), r["rank"])):
        batch[queries[int(r["query_id"])]].append((r["doc_id"], r["score"]))
    assert batch == got

    oracle = _oracle_after_deletes()
    for q, hits in got.items():
        want = oracle.search(q, 10)
        assert [d for d, _ in hits] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(hits, want):
            assert math.isclose(gs, ws, rel_tol=1e-9), q

    # the two upserted docs score with their new ordinals' length
    reader = S.IndexSearcher(merged_with_deletes).reader
    dl = len(UPDATED.split())
    norm = 1 / (1 + BM25_K1 * (1 - BM25_B + BM25_B * dl
                               / reader.avgdl("content")))
    want = reader.idf("content", word) * norm
    assert [s for _, s in got[f"content:{word}"]] == [want, want]
    ids = [d for d, _ in got[f"content:{word}"]]
    stats = ds.dataset(snapshot.paths(
        merged_with_deletes, reader.manifest, "doc_stats")).to_table(
        columns=["doc_id", "doc_ord"]).to_pandas()
    for doc_id in ids:  # the old ordinal is dead, and its dl stays its own
        old, new = sorted(stats.loc[stats["doc_id"] == doc_id, "doc_ord"])
        assert np.isin([old, new], reader.tombstones).tolist() == [True,
                                                                  False]
        lengths = reader.doc_lengths("content")[[old, new]].tolist()
        assert lengths[1] == dl != lengths[0]


def test_every_index_table_is_zstd(merged_with_deletes,
                                   small_merged_with_deletes):
    for table in TABLES:
        codecs = set()
        for path in [*_data_files(os.path.join(merged_with_deletes, table)),
                     *_data_files(os.path.join(small_merged_with_deletes,
                                               table))]:
            # a Spark write may add a row-group-less file for the schema
            md = pq.ParquetFile(path).metadata
            codecs |= {md.row_group(g).column(c).compression
                       for g in range(md.num_row_groups)
                       for c in range(md.num_columns)}
        assert codecs == {"ZSTD"}, (table, codecs)


def test_payload_columns_carry_no_statistics(merged_with_deletes,
                                             small_merged_with_deletes):
    for path in [
            *_data_files(os.path.join(merged_with_deletes, "postings")),
            *_data_files(os.path.join(small_merged_with_deletes,
                                      "postings"))]:
        md = pq.ParquetFile(path).metadata
        for g in range(md.num_row_groups):
            cols = {md.row_group(g).column(c).path_in_schema:
                    md.row_group(g).column(c)
                    for c in range(md.num_columns)}
            assert "dls" not in cols, path  # format 2: dl is in doc_stats
            for name in PAYLOAD:
                assert not cols[name].is_stats_set, (path, name)
            for name in ("field", "term", "first_doc", "last_doc"):
                st = cols[name].statistics
                assert st is not None and st.has_min_max, (path, name)
    # the lexicon and doc_stats have no payload column: all stats kept
    for table, col in (("lexicon", "term"), ("doc_stats", "doc_ord")):
        for path in _data_files(os.path.join(merged_with_deletes, table)):
            md = pq.ParquetFile(path).metadata
            if not md.num_row_groups:
                continue
            names = [md.row_group(0).column(c).path_in_schema
                     for c in range(md.num_columns)]
            st = md.row_group(0).column(names.index(col)).statistics
            assert st is not None and st.has_min_max, (table, path)


def _rewrite_snappy(index_dir):
    """Rewrite every data file in place as snappy with full statistics,
    dropping the Hadoop checksum the old bytes had."""
    n = 0
    for table in os.listdir(index_dir):
        for path in _data_files(os.path.join(index_dir, table)):
            pq.write_table(pq.read_table(path), path, compression="snappy")
            crc = os.path.join(os.path.dirname(path),
                               f".{os.path.basename(path)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
            n += 1
    return n


def test_snappy_index_merges_like_zstd(spark, base_index, tmp_path):
    from lucille_spark.index.builder import add_doc_identity
    from lucille_spark.query.searcher import IndexSearcher

    zstd_idx, mixed_idx = str(tmp_path / "zstd"), str(tmp_path / "mixed")
    shutil.copytree(base_index, zstd_idx)
    shutil.copytree(base_index, mixed_idx)
    assert _rewrite_snappy(mixed_idx)
    for idx in (zstd_idx, mixed_idx):
        _merge_new(spark, idx)
    codecs = {md.row_group(0).column(0).compression
              for md in (pq.ParquetFile(p).metadata for p in
                         _data_files(os.path.join(mixed_idx, "postings")))
              if md.num_row_groups}
    assert codecs == {"SNAPPY", "ZSTD"}

    pdf = corpus_pdf(np.arange(N_BASE + N_NEW))
    ids = add_doc_identity(spark.createDataFrame(pdf)).select(
        "path", "doc_id").toPandas().set_index("path")["doc_id"]
    oracle = OracleIndex(
        [{"id": ids[p], "content": c}
         for p, c in zip(pdf["path"], pdf["content"])], fields=("content",))
    zs, ms = IndexSearcher(zstd_idx), IndexSearcher(mixed_idx)
    for q in QUERIES:
        got, want = ms.search(q, 10), oracle.search(q, 10)
        assert got == zs.search(q, 10), q
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9), q


def test_status_bytes_breakdown(tmp_path):
    """``status_job --bytes`` sizes tables from parquet metadata alone."""
    import importlib

    status_job = importlib.import_module("jobs.status_job")
    post = tmp_path / "idx" / "postings"
    post.mkdir(parents=True)
    table = pa.table({"term": ["a", "b", "c"],
                      "doc_gaps": [b"\x01\x02", b"\x03", b"\x04" * 9]})
    pq.write_table(table, str(post / "part-0.parquet"), compression="zstd")
    pq.write_table(table, str(post / "part-1.parquet"),
                   compression="snappy", row_group_size=2)
    (post / "_SUCCESS").write_bytes(b"")
    (post / ".part-0.parquet.crc").write_bytes(b"xx")
    meta = tmp_path / "idx" / "_meta"
    meta.mkdir()
    pq.write_table(pa.table({"ord_span": [3]}), str(meta / "m.parquet"))
    (meta / "0000000001.json").write_text("{}")  # a manifest is not parquet

    got = status_job.table_bytes(str(tmp_path / "idx"))
    assert sorted(got) == ["_meta", "postings"]
    p = got["postings"]
    assert p["files"] == 2
    assert p["bytes"] == sum(os.path.getsize(post / f"part-{i}.parquet")
                             for i in range(2))
    assert p["codecs"] == ["SNAPPY", "ZSTD"]
    assert sorted(p["columns"]) == ["doc_gaps", "term"]
    footers = sum(pq.ParquetFile(str(post / f"part-{i}.parquet"))
                  .metadata.serialized_size for i in range(2))
    assert 0 < p["footer_bytes"] == footers < p["bytes"]
    chunks = [pq.ParquetFile(str(post / f"part-{i}.parquet")).metadata
              for i in range(2)]
    want = sum(md.row_group(g).column(1).total_compressed_size
               for md in chunks for g in range(md.num_row_groups))
    assert p["columns"]["doc_gaps"]["compressed"] == want
    assert p["columns"]["term"]["uncompressed"] > 0
    assert got["_meta"]["files"] == 1
