"""Traced mode: spans around the public functions of each engine layer,
installed from outside the engine by replacing module and class
attributes, and Spark job, task and shuffle counts per job group.

Spans (name, start, end, parent, context id) are kept in memory and
written out when the run ends. A layer's self time is its span's duration
minus its child spans' durations (calls nest, one driver thread).
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

from lucille_spark.index import builder, codecs, merge, reader
from lucille_spark.query import executor_df, parser, searcher

# (owner, attribute, span name) for every wrapped function; the searcher
# module imported parse/expand_prefixes by name, so its copies are wrapped
WRAPPED = (
    (reader.IndexReader, "__init__", "index.reader.open"),
    (reader.IndexReader, "blocks", "index.reader.blocks"),
    (reader.IndexReader, "term_info", "index.reader.term_info"),
    (reader.IndexReader, "terms_with_prefix", "index.reader.expand"),
    (reader.IndexReader, "terms_fuzzy", "index.reader.expand"),
    (reader.IndexReader, "terms_wildcard", "index.reader.expand"),
    (reader.IndexReader, "terms_in_range", "index.reader.expand"),
    (reader.IndexReader, "decode_term_flat", "index.reader.decode"),
    (reader.IndexReader, "doc_ids_for_ords", "index.reader.resolve"),
    (codecs, "vbyte_decode", "index.codecs.vbyte_decode"),
    (searcher, "parse", "query.parser.parse"),
    (searcher, "expand_prefixes", "query.parser.expand"),
    (searcher.IndexSearcher, "search", "query.searcher.search"),
    (builder, "build_index", "index.builder.build_index"),
    (merge, "merge_index", "index.merge.merge_index"),
    (executor_df, "search_batch", "query.executor_df.search_batch"),
)


class Tracer:
    def __init__(self):
        self.spans = []      # [name, start, end, parent index, ctx, info]
        self._stack = []
        self.ctx = None      # query or commit id the next spans belong to
        self._saved = []

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, info=None):
        parent = self._stack[-1] if self._stack else -1
        rec = [name, time.perf_counter(), None, parent, self.ctx, info]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                rec[5] = _info(name, args, out)
                return out

        return traced

    def install(self) -> None:
        for owner, attr, name in WRAPPED:
            fn = getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()

    # -- reading the spans -------------------------------------------------
    def self_times(self):
        """Per span index: duration minus its children's durations."""
        own = [s[2] - s[1] for s in self.spans]
        for s in self.spans:
            if s[3] >= 0:
                own[s[3]] -= s[2] - s[1]
        return own

    def dump(self, path: str) -> None:
        own = self.self_times()
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s[0], "start": s[1], "end": s[2],
                    "parent": s[3], "ctx": s[4], "self_s": own[i],
                    "info": s[5]}) + "\n")


def _info(name, args, out):
    """Counts recorded where the work happens."""
    if name == "index.codecs.vbyte_decode":
        return {"values": int(len(out))}
    if name == "index.reader.blocks":
        return {"term": f"{args[1]}:{args[2]}", "rows": int(len(out))}
    if name == "index.reader.decode":
        return {"postings": int(len(out[0]))}
    if name == "query.parser.expand":
        return {"terms": len(parser.positive_terms(out))}
    return None


class SparkCounter:
    """Spark jobs, completed tasks and shuffle-write bytes of the jobs run
    under one job group, from the driver's StatusTracker and status
    store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    @contextlib.contextmanager
    def group(self, out: dict):
        self.n += 1
        gid = f"perfbench-{self.n}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            out.update(self.counts(gid))

    def counts(self, gid: str) -> dict:
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = st.getJobIdsForGroup(gid)
        tasks = shuffle = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks
                try:
                    shuffle += int(store.lastStageAttempt(sid)
                                   .shuffleWriteBytes())
                except Exception:  # stage evicted from the status store
                    pass
        return {"spark_jobs": len(jobs), "tasks": tasks,
                "shuffle_write_bytes": shuffle}
