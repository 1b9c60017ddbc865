"""Connector/file-handler/sink parity tests (FIXTURES.md F4; modeled on the
reference's CSVFileHandlerTest/JsonFileHandlerTest resources)."""

import os

import pytest


@pytest.fixture()
def csv_dir(tmp_path):
    d = tmp_path / "csv"
    d.mkdir()
    # BOM on header, quoted separator, blank line (reference:
    # FileHandlerTest/CSVFileHandlerTest/{bom,defaults,...}.csv)
    (d / "songs.csv").write_text(
        "﻿artist,song,year\n"
        "Nirvana,\"Smells, Like Teen Spirit\",1991\n"
        "\n"
        "Portishead,Glory Box,1994\n", encoding="utf-8")
    return str(d)


def test_csv_handler_defaults(spark, csv_dir):
    from lucille_spark.sources import read_csv_docs

    df = read_csv_docs(spark, csv_dir).orderBy("csvLineNumber")
    rows = df.collect()
    assert [r["artist"] for r in rows] == ["Nirvana", "Portishead"]
    assert rows[0]["song"] == "Smells, Like Teen Spirit"  # quoted separator
    assert df.columns[0] == "artist"  # BOM stripped from header
    assert rows[0]["id"] == "songs.csv-1"  # filename-lineNum synthesis
    assert rows[0]["source"] == "songs.csv"


def test_csv_handler_compound_id(spark, csv_dir):
    from lucille_spark.sources import read_csv_docs

    df = read_csv_docs(spark, csv_dir, id_fields=["artist", "year"],
                       doc_id_format="%s_%s", doc_id_prefix="px-")
    ids = {r["id"] for r in df.collect()}
    assert ids == {"px-Nirvana_1991", "px-Portishead_1994"}


def test_csv_reserved_id_header(spark, tmp_path):
    from lucille_spark.sources import read_csv_docs

    d = tmp_path / "c2"
    d.mkdir()
    (d / "r.csv").write_text("id,v\nfoo,1\n")
    df = read_csv_docs(spark, str(d))
    row = df.collect()[0]
    assert row["id_from_csv"] == "foo"   # reserved header renamed
    assert row["id"] == "r.csv-1"        # synthesized id wins


def test_csv_tabs_semicolons(spark, tmp_path):
    from lucille_spark.sources import read_csv_docs

    d = tmp_path / "c3"
    d.mkdir()
    (d / "t.csv").write_text("a\tb\nx\ty\n")
    assert read_csv_docs(spark, str(d), sep="\t").collect()[0]["b"] == "y"
    (d2 := tmp_path / "c4").mkdir()
    (d2 / "s.csv").write_text("a;b\nx;y\n")
    assert read_csv_docs(spark, str(d2), sep=";").collect()[0]["b"] == "y"


def test_jsonl_handler(spark, tmp_path):
    from lucille_spark.sources import read_jsonl_docs

    d = tmp_path / "j"
    d.mkdir()
    (d / "docs.jsonl").write_text(
        '{"myid": "a1", "title": "one", "secret": "x"}\n'
        '{"myid": "a2", "title": "two", "secret": "y"}\n')
    df = read_jsonl_docs(spark, str(d), id_field="myid",
                         exclude_fields=["secret"])
    rows = {r["id"]: r for r in df.collect()}
    assert set(rows) == {"a1", "a2"}
    assert "secret" not in df.columns
    # id synthesis when no id field present
    df2 = read_jsonl_docs(spark, str(d), id_field="nope")
    assert sorted(r["id"] for r in df2.collect()) == [
        "docs.jsonl-1", "docs.jsonl-2"]


def test_sequence_source(spark):
    from lucille_spark.sources import sequence_docs

    rows = sequence_docs(spark, 3, start_number=5,
                         doc_id_prefix="seq-").collect()
    assert sorted(r["id"] for r in rows) == ["seq-5", "seq-6", "seq-7"]


def test_file_source_full_and_incremental(spark, tmp_path):
    from lucille_spark.sources import FileSource

    root = tmp_path / "files"
    root.mkdir()
    (root / "a.txt").write_bytes(b"alpha")
    (root / "b.log").write_bytes(b"beta")
    state = str(tmp_path / "state")

    src = FileSource(spark, str(root), include_regex=r"\.txt$",
                     state_dir=state)
    full = src.read().collect()
    assert len(full) == 1 and full[0]["file_path"].endswith("a.txt")
    assert bytes(full[0]["content"]) == b"alpha"

    # first incremental run publishes everything; commit state
    inc1 = src.read_incremental().collect()
    assert len(inc1) == 1
    src.commit_state()

    # new file appears, old one deleted -> one fresh row + one tombstone
    (root / "c.txt").write_bytes(b"gamma")
    os.remove(root / "a.txt")
    inc2 = {os.path.basename(r["file_path"]): r
            for r in src.read_incremental().collect()}
    assert set(inc2) == {"c.txt", "a.txt"}
    assert inc2["c.txt"]["___deleted"] is False
    assert inc2["a.txt"]["___deleted"] is True


def test_csv_sink_multivalued(spark, tmp_path):
    from lucille_spark.sinks import write_csv

    df = spark.createDataFrame([("d1", ["a", "b"], "x")],
                               "id string, tags array<string>, t string")
    out = str(tmp_path / "out")
    write_csv(df, out, ["id", "tags", "t"])
    back = spark.read.option("header", True).csv(out).collect()[0]
    assert back["tags"] == "[a, b]"  # CSVIndexer list rendering


def test_index_sink_upsert_delete_routing(spark, tmp_path):
    from lucille_spark.sinks import IndexSink

    table = str(tmp_path / "tbl")
    sink = IndexSink(table, id_col="id", delete_marker_field="___delete",
                     routing_field="shard")
    b1 = spark.createDataFrame(
        [("d1", "v1", "s1", None), ("d2", "v2", "s2", None)],
        "id string, val string, shard string, ___delete string")
    assert sink.upsert(b1)["rows"] == 2
    # batch 2: update d1, delete d2, add d3
    b2 = spark.createDataFrame(
        [("d1", "v1b", "s1", None), ("d2", None, "s2", "true"),
         ("d3", "v3", "s1", None)],
        "id string, val string, shard string, ___delete string")
    sink.upsert(b2)
    rows = {r["id"]: r["val"]
            for r in spark.read.parquet(table).collect()}
    assert rows == {"d1": "v1b", "d3": "v3"}


def test_matchquery_stage(spark):
    from lucille_spark.pipeline.stages import MatchQuery

    df = spark.createDataFrame(
        [("d1", "giraffe", None, None),
         ("d2", "giraffe test foo", None, None),
         ("d3", "test", "geotrans", None),
         ("d4", "foobar", None, None),
         ("d5", None, "geotrans", "japan")],
        "id string, content string, table string, country string")
    stage = MatchQuery(queries={
        "query1": "content:giraffe AND content:test",
        "query2": "content:giraffe OR content:test",
        "not_asia": "table:geotrans AND -(country:japan OR country:jp)",
        "japan": "table:geotrans AND country:japan",
    })
    out = {r["id"]: list(r["matched_queries"])
           for r in stage.apply(df).collect()}
    # golden assertions from MatchQueryTest.java:22-63
    assert out["d1"] == ["query2"]
    assert out["d2"] == ["query1", "query2"]
    assert out["d3"] == ["query2", "not_asia"]
    assert out["d4"] == []
    assert out["d5"] == ["japan"]


def test_streaming_ingest(spark, tmp_path):
    from lucille_spark.pipeline import Pipeline
    from lucille_spark.pipeline.stages import NormalizeText
    from lucille_spark.sinks import IndexSink
    from lucille_spark.streaming import StreamingIngest

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    table = str(tmp_path / "table")
    metrics = str(tmp_path / "metrics")
    chk = str(tmp_path / "chk")

    (inbox / "f1.jsonl").write_text(
        '{"id": "s1", "text": "Hello"}\n{"id": "s2", "text": "World"}\n')
    ingest = StreamingIngest(
        spark,
        Pipeline([NormalizeText(source="text", mode="uppercase")]),
        IndexSink(table, id_col="id"),
        checkpoint_dir=chk, metrics_dir=metrics, run_id="st1")
    ingest.from_json_files(str(inbox), "id string, text string")
    got = {r["id"]: r["text"] for r in spark.read.parquet(table).collect()}
    assert got == {"s1": "HELLO", "s2": "WORLD"}

    # second microbatch: update s1, add s3; checkpoint skips f1
    (inbox / "f2.jsonl").write_text(
        '{"id": "s1", "text": "Hola"}\n{"id": "s3", "text": "New"}\n')
    ingest.from_json_files(str(inbox), "id string, text string")
    got = {r["id"]: r["text"] for r in spark.read.parquet(table).collect()}
    assert got == {"s1": "HOLA", "s2": "WORLD", "s3": "NEW"}
    m = spark.read.parquet(metrics)
    assert m.count() >= 2


def test_streaming_indexer_live_search(spark, tmp_path):
    """Continuous indexing: docs searchable after each microbatch; upserts
    and deletes applied through the streaming merge."""
    import json

    from lucille_spark.pipeline import Pipeline
    from lucille_spark.query.searcher import IndexSearcher
    from lucille_spark.streaming import StreamingIndexer

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    idx = str(tmp_path / "live_index")
    schema = ("repo string, path string, commit string, lang string, "
              "content string, ___delete string")

    def doc(path, content, delete=None):
        return json.dumps({"repo": "o/r", "path": path, "commit": "c0",
                           "lang": "py", "content": content,
                           "___delete": delete})

    indexer = StreamingIndexer(
        spark, Pipeline([]), index_dir=idx,
        checkpoint_dir=str(tmp_path / "chk"),
        delete_marker_field="___delete",
        metrics_dir=str(tmp_path / "metrics"),
        block_size=16, docs_per_salt=64)

    # batch 1: bootstrap the index
    (inbox / "b1.jsonl").write_text(
        doc("a.py", "alpha unique bravo") + "\n" +
        doc("b.py", "bravo charlie words") + "\n")
    indexer.from_json_files(str(inbox), schema)
    s = IndexSearcher(idx)
    assert len(s.search("content:bravo", 10)) == 2

    # batch 2: update a.py, delete b.py, add c.py
    (inbox / "b2.jsonl").write_text(
        doc("a.py", "alpha rewritten delta") + "\n" +
        doc("b.py", "", delete="true") + "\n" +
        doc("c.py", "charlie echo fresh") + "\n")
    indexer.from_json_files(str(inbox), schema)
    s = IndexSearcher(idx)
    assert len(s.search("content:bravo", 10)) == 0      # old content gone
    assert len(s.search("content:rewritten", 10)) == 1  # update visible
    assert len(s.search("content:fresh", 10)) == 1      # add visible
    m = spark.read.parquet(str(tmp_path / "metrics"))
    assert m.count() >= 2
    rows = m.orderBy("batch_id").collect()
    assert [r["n_added"] for r in rows] == [2, 2]
    assert [r["n_tombstoned"] for r in rows] == [0, 2]
