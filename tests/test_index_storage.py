"""Index storage format: every table is written by
``builder.write_index_table`` with zstd pages and no statistics on the
postings payload columns, while every other column keeps the min/max that
row-group pruning reads. Indexes written with another codec (Spark's
default snappy) stay readable and mergeable."""

import math
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lucille_spark.corpus import corpus_pdf

TABLES = ("postings", "lexicon", "doc_stats", "_tombstones", "corpus_stats",
          "_meta", "_lineage")
PAYLOAD = ("doc_gaps", "tfs", "dls", "positions")
N_BASE, N_NEW = 300, 60
QUERIES = ["content:test OR content:giraffe",
           "content:return AND content:import",
           'content:"import test"', "content:if", "content:imp*",
           "content:koala OR content:ident_collide"]


def _data_files(table_dir):
    for dirpath, _, names in os.walk(table_dir):
        for name in sorted(names):
            if not name.startswith((".", "_")):
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
def merged_with_deletes(spark, base_index, tmp_path_factory):
    """The base index plus a delta of new docs, upserts and deletes."""
    from lucille_spark.index.builder import add_doc_identity
    from lucille_spark.index.merge import merge_index

    idx = str(tmp_path_factory.mktemp("storage") / "deletes")
    shutil.copytree(base_index, idx)
    old = corpus_pdf(np.arange(4))
    old["content"] = "zzzupdated content words"
    delta = spark.createDataFrame(pd.concat(
        [corpus_pdf(np.arange(N_BASE, N_BASE + N_NEW)), old.iloc[:2]],
        ignore_index=True))
    gone = add_doc_identity(spark.createDataFrame(old.iloc[2:])) \
        .select("doc_id")
    res = merge_index(delta, idx, deletes=gone, block_size=32,
                      docs_per_salt=64)
    assert res["tombstoned"] == 4
    return idx


def test_every_index_table_is_zstd(merged_with_deletes):
    for table in TABLES:
        codecs = set()
        for path in _data_files(os.path.join(merged_with_deletes, table)):
            # a Spark write may add a row-group-less file for the schema
            md = pq.ParquetFile(path).metadata
            codecs |= {md.row_group(g).column(c).compression
                       for g in range(md.num_row_groups)
                       for c in range(md.num_columns)}
        assert codecs == {"ZSTD"}, (table, codecs)


def test_payload_columns_carry_no_statistics(merged_with_deletes):
    files = list(_data_files(os.path.join(merged_with_deletes, "postings")))
    for path in files:
        md = pq.ParquetFile(path).metadata
        for g in range(md.num_row_groups):
            cols = {md.row_group(g).column(c).path_in_schema:
                    md.row_group(g).column(c)
                    for c in range(md.num_columns)}
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
    from lucille_spark.query.oracle import OracleIndex
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
