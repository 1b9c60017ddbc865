"""A commit runs its Python in the session's one worker pool
(``session.py``): engine sessions give RDD-path and SQL Python functions
one daemon, ``merge_index`` reads its broadcast deletes as one partition,
and the frames the engine makes of driver rows are Arrow local relations
that start no Python task."""

import json
import os
import subprocess
import sys

from pyspark.sql.readwriter import DataFrameWriter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _arrow_built(plan):
    return "applySchemaToPythonRDD" not in plan and "ExistingRDD" not in plan


def test_get_spark_shares_the_sql_python_environment(spark):
    assert spark.sparkContext.environment["SPARK_SIMPLIFIED_TRACEBACK"] == "1"


def test_suggest_batch_words_are_arrow_built(spark, index_dir):
    from lucille_spark.query.executor_df import suggest_batch_df

    plan = _plan(suggest_batch_df(spark, index_dir, ["retrun", "imprt"]))
    assert "LocalTableScan" in plan and _arrow_built(plan)


def test_stage_dictionaries_are_arrow_built(spark):
    import pandas as pd

    from lucille_spark.pipeline.stages import DictionaryLookup, ExtractEntities

    df = spark.createDataFrame(pd.DataFrame({  # Arrow-built input
        "id": ["d1", "d2"], "lang": ["py", "go"],
        "content": ["The New York Giants", "giants in new york"]}))
    lookup = DictionaryLookup(source="lang", dest="lang_name",
                              dictionary={"py": "Python", "go": "Go"},
                              use_join=True).apply(df)
    # ignore_overlaps builds the containment pairs frame as well
    entities = ExtractEntities(
        source="content", use_join=True, ignore_overlaps=True,
        dictionary={"new york": "NY", "new york giants": "TEAM"}).apply(df)
    for out in (lookup, entities):
        plan = _plan(out)
        assert "LocalTableScan" in plan and _arrow_built(plan)
    assert {r["id"]: r["lang_name"] for r in lookup.collect()} == {
        "d1": "Python", "d2": "Go"}
    assert {r["id"]: r["entities"] for r in entities.collect()} == {
        "d1": ["TEAM"], "d2": ["NY"]}


def _record_writes(monkeypatch, path):
    """Plans of the frames written as parquet to ``path``."""
    plans, write = [], DataFrameWriter.parquet

    def parquet(self, p, *args, **kwargs):
        if p == path:
            plans.append(_plan(self._df))
        return write(self, p, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    return plans


def test_streaming_ingest_metrics_are_arrow_built(spark, tmp_path,
                                                  monkeypatch):
    from lucille_spark.pipeline import Pipeline
    from lucille_spark.sinks import IndexSink
    from lucille_spark.streaming import StreamingIngest

    inbox, metrics = tmp_path / "inbox", str(tmp_path / "metrics")
    inbox.mkdir()
    (inbox / "f1.jsonl").write_text('{"id": "s1", "text": "Hello"}\n')
    plans = _record_writes(monkeypatch, metrics)
    StreamingIngest(spark, Pipeline([]), IndexSink(str(tmp_path / "t"),
                                                   id_col="id"),
                    checkpoint_dir=str(tmp_path / "chk"),
                    metrics_dir=metrics).from_json_files(
        str(inbox), "id string, text string")
    assert len(plans) == 1 and _arrow_built(plans[0])
    assert spark.read.parquet(metrics).count() == 1


def test_streaming_indexer_deletes_keep_the_pipeline_parallel(
        spark, tmp_path, monkeypatch):
    """StreamingIndexer hands the merge deletes with an exchange under the
    merge's one-partition read, and writes Arrow-built metrics rows."""
    from lucille_spark.index import merge
    from lucille_spark.pipeline import Pipeline
    from lucille_spark.streaming import StreamingIndexer

    inbox, metrics = tmp_path / "inbox", str(tmp_path / "metrics")
    inbox.mkdir()
    schema = ("repo string, path string, commit string, lang string, "
              "content string, ___delete string")

    def doc(path, content, delete=None):
        return json.dumps({"repo": "o/r", "path": path, "commit": "c0",
                           "lang": "py", "content": content,
                           "___delete": delete})

    deletes_plans, real_merge = [], merge.merge_index

    def spy(corpus, index_dir, deletes=None, **kwargs):
        # the frame merge_index reads: deletes.select("doc_id").coalesce(1)
        deletes_plans.append(_plan(deletes.select("doc_id").coalesce(1)))
        return real_merge(corpus, index_dir, deletes=deletes, **kwargs)

    monkeypatch.setattr(merge, "merge_index", spy)
    plans = _record_writes(monkeypatch, metrics)
    indexer = StreamingIndexer(
        spark, Pipeline([]), index_dir=str(tmp_path / "idx"),
        checkpoint_dir=str(tmp_path / "chk"), delete_marker_field="___delete",
        metrics_dir=metrics, block_size=16, docs_per_salt=64)
    (inbox / "b1.jsonl").write_text(
        doc("a.py", "alpha bravo") + "\n" + doc("b.py", "bravo charlie") + "\n")
    indexer.from_json_files(str(inbox), schema)
    (inbox / "b2.jsonl").write_text(
        doc("b.py", "", delete="true") + "\n" + doc("c.py", "echo") + "\n")
    indexer.from_json_files(str(inbox), schema)

    assert len(deletes_plans) == 1
    plan = deletes_plans[0]
    below = plan[plan.index("Coalesce 1"):]
    assert "Exchange hashpartitioning" in below
    assert len(plans) == 2 and all(_arrow_built(p) for p in plans)


GUARD = r"""
import hashlib, json, os, sys
import numpy as np
from lucille_spark.corpus import corpus_pdf
from lucille_spark.index import snapshot
from lucille_spark.index.builder import build_index
from lucille_spark.index.merge import merge_index
from lucille_spark.session import get_spark

idx = sys.argv[1]
spark = get_spark("worker-pool-guard", cpus=4)
base = corpus_pdf(np.arange(20))
build_index(spark.createDataFrame(base), idx)
gone = [hashlib.sha256(f"{r.repo}\x00{r.path}\x00{r.commit}".encode())
        .hexdigest() for r in base.head(3).itertuples()]
merge_index(spark.createDataFrame(corpus_pdf(np.arange(20, 25))), idx,
            deletes=spark.createDataFrame([(d,) for d in gone],
                                          "doc_id string"))

children = {}
for pid in filter(str.isdigit, os.listdir("/proc")):
    try:
        with open(f"/proc/{pid}/stat") as f:
            ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ").decode()
    except OSError:
        continue
    children.setdefault(ppid, []).append((int(pid), cmd))
jvms = [p for p, cmd in children.get(os.getpid(), []) if "java" in cmd]
daemons = [p for jvm in jvms for p, cmd in children.get(jvm, [])
           if "pyspark.daemon" in cmd]
print(json.dumps({
    "jvms": len(jvms),
    "workers": [len(children.get(d, [])) for d in daemons],
    "tombstoned": snapshot.load(idx)["tombstoned"]}))
spark.stop()
"""


def test_a_commit_runs_its_python_in_one_worker_of_one_pool(tmp_path):
    """A 20-doc build and a merge of 5 docs plus 3 list-built deletes, in a
    fresh engine session on 4 cores, leave one ``pyspark.daemon`` under
    the JVM with at most one worker. Without the shared environment and
    the one-partition read this test saw 2 daemons, one with 1 worker
    (the build's) and one with 4 (the deletes' 4 slices). With the shared
    environment alone it saw one daemon with 4 workers, and with the
    one-partition read alone 2 daemons with 1 worker each."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]))
    r = subprocess.run(
        [sys.executable, "-c", GUARD, str(tmp_path / "idx")],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    seen = json.loads(r.stdout.strip().splitlines()[-1])
    assert seen["jvms"] == 1
    assert seen["tombstoned"] == 3  # the deletes were read
    assert len(seen["workers"]) == 1, seen
    assert seen["workers"][0] <= 1, seen
