"""The repository benchmark: one seeded workload per run, one JSON line out.

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 2 --trace 0

Run it from the repository root. Each run starts its own local Spark
session (``get_spark(cpus=nproc)``), builds the index from a seeded F1
corpus during set-up, drives the workload as a closed loop with one
client, checks the results against an independent DuckDB BM25 reference
outside the timed regions, and prints as its last line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps the engine's layers (tracing.py) and
reports the per-layer metrics instead. README.md lists both.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# sizes of one run (README.md gives the reasons)
N_BASE = 200              # docs in the base corpus
DELTA = (45, 12, 3)       # the commit's new docs, upserts, deletes
LOG_LEN = 4000            # queries in the generated log
PROBE_Q = 20              # log queries in the probe batch (plus the marker)
BATCH_Q = 40              # log queries in the warm batch (traced search_mix)
K = 10
CHECK_PER_SHAPE = 4       # reference-checked queries per shape and check point
VEC_SHAPES = ("term", "or2", "and2", "mlt")  # the searcher's term/OR/AND path

WORKLOADS = ("search_mix", "live_ingest")
T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - T_START:7.1f}s {msg}",
          file=sys.stderr, flush=True)


def tail_percentile(n: int):
    """The highest of the usual percentiles that leaves at least ten
    samples beyond it, or None when fewer than 20 samples exist."""
    best = None
    for p in (50, 75, 90, 95, 99, 99.9):
        if n * (1000 - round(p * 10)) >= 10 * 1000:  # in tenths of a percent
            best = p
    return best


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    i = max(0, min(len(v) - 1, int(-(-p * len(v) // 100)) - 1))
    return v[i]


def _tree(root_pid: int):
    """/proc stat fields and resident pages of ``root_pid`` and all its
    descendants: [(stat fields after the command name, rss pages)]."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{entry}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:  # the process exited meanwhile
            continue
        procs[int(entry)] = (fields, pages)
    children = {}
    for pid, (fields, _) in procs.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out.append(procs[pid])
        stack.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants."""
    return sum(p for _, p in _tree(root_pid)) * os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Peak resident memory of this process tree, sampled every 0.5 s."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(0.5)

    def sample(self):
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def dir_bytes(path: str, tables=None):
    """(bytes, files) of the data files under an index directory, per
    table; hidden and underscore files (checksums, markers) excluded."""
    out = {}
    for table in sorted(os.listdir(path)):
        if tables and table not in tables:
            continue
        size = files = 0
        for dirpath, _, names in os.walk(os.path.join(path, table)):
            for name in names:
                if not name.startswith((".", "_")):
                    size += os.path.getsize(os.path.join(dirpath, name))
                    files += 1
        out[table] = (size, files)
    return out


INDEX_TABLES = ("postings", "lexicon", "doc_stats", "corpus_stats",
                "_meta", "_tombstones")


def index_bytes(path: str) -> int:
    return sum(b for b, _ in dir_bytes(path, INDEX_TABLES).values())


class Run:
    """One workload run: set-up, timed phases, checks, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str):
        import gen
        from check import Reference

        from lucille_spark.session import get_spark

        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = work
        self.gen = gen
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = get_spark("perfbench", cpus=self.cpus, **{
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark")})
        self.spark.sparkContext.setLogLevel("ERROR")
        log("spark session up")
        self.tracer = self.counter = None
        if trace:
            from tracing import SparkCounter, Tracer

            self.tracer = Tracer()
            self.tracer.install()
            self.counter = SparkCounter(self.spark)
        self.ref = Reference()
        self.attempted = self.failed = 0
        self.failures = []
        self.read_s = []
        self.layer = {"batches": [], "vec": [], "warm_batch_s": 0.0}
        self.log = gen.query_log(seed, LOG_LEN)
        self.log_pos = 0
        self.dead = set()

    # -- helpers -----------------------------------------------------------
    def _ctx(self, ctx):
        if self.tracer is not None:
            self.tracer.ctx = ctx

    def _spark_op(self, out: dict):
        import contextlib

        if self.counter is None:
            return contextlib.nullcontext()
        return self.counter.group(out)

    def next_queries(self, n: int):
        out = []
        for _ in range(n):
            out.append(self.log[self.log_pos % len(self.log)])
            self.log_pos += 1
        return out

    def fail(self, what: str):
        self.failed += 1
        if len(self.failures) < 5:
            self.failures.append(what)

    # -- set-up ------------------------------------------------------------
    def setup(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from lucille_spark.index import builder
        from lucille_spark.query.searcher import IndexSearcher

        t0 = time.perf_counter()
        docs = self.gen.corpus(self.seed, N_BASE)
        table_dir = os.path.join(self.work, "corpus")
        os.makedirs(table_dir)
        table = pa.Table.from_pandas(docs, preserve_index=False)
        step = -(-N_BASE // self.cpus)
        for i in range(self.cpus):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(table_dir, f"part-{i:03d}.parquet"))
        self.index = os.path.join(self.work, "index")
        tb = time.perf_counter()
        info = {}
        with self._spark_op(info):
            builder.build_index(self.spark.read.parquet(table_dir), self.index,
                                run_id="perfbench-build")
        self.build_s = time.perf_counter() - tb
        self.build_counts = info
        self.searcher = IndexSearcher(self.index)
        self.setup_s = time.perf_counter() - t0
        log(f"set-up done: build {self.build_s:.1f} s")
        self.input_bytes = int(docs["content"].str.len().sum())
        docs["doc_id"] = [self.gen.doc_id(r, p, c) for r, p, c in
                          zip(docs["repo"], docs["path"], docs["commit"])]
        self.ref.add(docs)
        self.base_index_bytes = index_bytes(self.index)
        if self.tracer is not None:
            import pyarrow.dataset as ds

            self.layer["build_index"] = dir_bytes(self.index)
            self.base_blocks = ds.dataset(
                os.path.join(self.index, "postings"),
                ignore_prefixes=[".", "_"]).count_rows()

    def close(self):
        """Stop Spark and wait for its JVM (and so its Python workers)
        to exit."""
        from pyspark import SparkContext

        if self.tracer is not None:
            self.tracer.uninstall()
        self.ref.close()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)

    # -- operations ----------------------------------------------------------
    def read(self, searcher, entry, ctx):
        """One timed single-client search; returns its hits or None. A
        failed search is timed too."""
        self.attempted += 1
        self._ctx(ctx)
        t = time.perf_counter()
        hits = None
        try:
            hits = searcher.search(entry[1], K)
        except Exception as e:  # a failed op counts and the run goes on
            self.fail(f"search {entry[1]!r}: {e!r}")
        finally:
            self._ctx(None)
        self.read_s.append(time.perf_counter() - t)
        return hits

    def batch(self, entries, k: int, extra=()):
        """One search_batch call over ``entries`` (+ ``extra`` queries);
        returns ({query_id: [(doc_id, score)]}, seconds) or None."""
        from lucille_spark.query import executor_df

        queries = [(str(i), e[1]) for i, e in enumerate(entries)]
        queries += [(f"x{i}", q) for i, q in enumerate(extra)]
        self.attempted += len(queries)
        info = {}
        t = time.perf_counter()
        try:
            with self._spark_op(info):
                rows = executor_df.search_batch(
                    self.spark, self.index, queries, k=k).collect()
        except Exception as e:
            self.failed += len(queries)
            self.fail(f"search_batch: {e!r}")
            return None
        dt = time.perf_counter() - t
        out = {qid: [] for qid, _ in queries}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out[r["query_id"]].append((r["doc_id"], r["score"]))
        if info:
            self.layer["batches"].append(info)
        return out, dt

    def commit(self):
        """merge_index the seeded delta, then the probe batch on the new
        version. Times the merge and the freshness; checks after."""
        from lucille_spark.index import merge

        rows, delete_ids, new_ids = self.gen.delta(self.seed, N_BASE, *DELTA)
        self.attempted += 1
        sdf = self.spark.createDataFrame(rows)
        dels = self.spark.createDataFrame([(d,) for d in delete_ids],
                                          "doc_id string")
        before = dir_bytes(self.index, ("postings",))["postings"]
        info = {}
        self._ctx(("commit",))
        t = time.perf_counter()
        try:
            with self._spark_op(info):
                merge.merge_index(sdf, self.index, deletes=dels,
                                  run_id="perfbench-merge")
        except Exception as e:
            self.fail(f"merge_index: {e!r}")
            raise
        finally:
            self._ctx(None)
        self.merge_s = time.perf_counter() - t
        log(f"commit: merge {self.merge_s:.1f} s")
        entries = self.next_queries(PROBE_Q)
        probe = self.batch(entries, DELTA[0],
                           extra=[self.gen.marker(self.seed)])
        if probe is None:
            raise RuntimeError("probe batch failed")
        self.fresh_s = time.perf_counter() - t
        self.probe_s = probe[1]
        self.live = N_BASE + len(new_ids) - len(delete_ids)
        after = dir_bytes(self.index)
        info.update(files_added=after["postings"][1] - before[1],
                    bytes_added=after["postings"][0] - before[0])
        self.layer["commit"] = info
        self.layer["after_commit"] = after
        # the reference follows the commit; the marker query returns
        # exactly the new docs; no deleted doc shows anywhere
        rows = rows.copy()
        rows["doc_id"] = [self.gen.doc_id(r, p, c) for r, p, c in
                          zip(rows["repo"], rows["path"], rows["commit"])]
        self.ref.add(rows)
        self.ref.delete(delete_ids)
        self.dead.update(delete_ids)
        got = {d for d, _ in probe[0]["x0"]}
        if got != set(new_ids):
            self.fail(f"marker: {len(got)} docs, "
                      f"{len(got & set(new_ids))} of {len(new_ids)} new")
        self.check_batch(entries, probe[0], DELTA[0])
        log(f"commit: probe {probe[1]:.1f} s, checked")

    # -- checks --------------------------------------------------------------
    def check(self, results, k: int):
        """Check [(entry, hits)]: no deleted doc in any of them, and the
        first CHECK_PER_SHAPE of each shape equal to the DuckDB
        reference."""
        from check import same_topk

        seen = {}
        for entry, hits in results:
            if hits is None:
                continue
            seen[entry[0]] = seen.get(entry[0], 0) + 1
            if any(d in self.dead for d, _ in hits):
                self.fail(f"deleted doc returned for {entry[1]!r}")
            elif (seen[entry[0]] <= CHECK_PER_SHAPE
                  and not same_topk(hits, self.expected(entry, k), k)):
                self.fail(f"top-{k} differs for {entry[1]!r}")

    def expected(self, entry, k: int):
        """The reference's answer to one log entry."""
        shape, q, terms = entry
        if shape == "and_not":
            return self.ref.topk(terms[:1], k, exclude=terms[1:])
        if shape in ("prefix", "fuzzy", "wildcard"):
            terms = self.ref.expand(shape, q)
        return self.ref.topk(terms, k, conjunctive=shape == "and2",
                             phrase=shape == "phrase")

    def check_batch(self, entries, out, k: int):
        self.check([(e, out.get(str(i))) for i, e in enumerate(entries)], k)

    # -- workloads -------------------------------------------------------------
    def reads(self, searcher):
        """Single-client reads of the log in whole blocks (each holds the
        shape shares exactly) until --seconds have passed; per-layer
        figures cover the first block."""
        results, t0 = [], time.perf_counter()
        while (not results or len(results) % self.gen.BLOCK
               or time.perf_counter() - t0 < self.seconds):
            entry = self.next_queries(1)[0]
            results.append((entry, self.read(searcher, entry,
                                             ("read", len(results)))))
        self.vec_share(results[:self.gen.BLOCK])
        self.check(results, K)
        log(f"reads: {len(results)}, checked")

    def search_mix(self):
        """Reads on the warm set-up searcher. Traced, also the commit and
        one warm search_batch call after it (the probe warmed the workers'
        searchers), so that every per-layer figure exists."""
        self.reads(self.searcher)
        if self.tracer is None:
            return
        self.commit()
        entries = self.next_queries(BATCH_Q)
        out = self.batch(entries, K)
        if out is not None:
            self.layer["warm_batch_s"] = out[1]
            self.check_batch(entries, out[0], K)

    def live_ingest(self):
        """The commit first, then reads on a searcher opened on the new
        version: cold caches, an appended postings file, tombstones."""
        from lucille_spark.query.searcher import IndexSearcher

        self.commit()
        self.reads(IndexSearcher(self.index))

    def vec_share(self, results):
        """Share of term/OR/AND queries at or under VEC_POSTINGS_MAX
        postings (trace mode only; from term_info, untraced)."""
        if self.tracer is None:
            return
        from lucille_spark.index.reader import IndexReader
        from lucille_spark.query.searcher import VEC_POSTINGS_MAX

        self.tracer.uninstall()
        reader = IndexReader(self.index)
        for (shape, q, terms), _ in results:
            if shape in VEC_SHAPES:
                total = sum((reader.term_info("content", t) or {"df": 0})["df"]
                            for t in terms)
                self.layer["vec"].append(total <= VEC_POSTINGS_MAX)
        self.tracer.install()

    # -- metrics ---------------------------------------------------------------
    def end_to_end(self, peak_rss: int) -> dict:
        reads = self.read_s
        p = tail_percentile(len(reads))
        self.summary = {
            "failed_frac": (self.failed / max(self.attempted, 1), "ratio"),
            "build_docs_per_s": (N_BASE / self.build_s, "1/s"),
            "search_p50_ms": (statistics.median(reads) * 1e3, "ms"),
            "search_qps": (len(reads) / sum(reads), "1/s"),
            "search_reads": (len(reads), "count"),
        }
        if p is not None:
            self.summary[f"search_p{p}_ms"] = (percentile(reads, p) * 1e3,
                                               "ms")
        if "commit" in self.layer:
            self.summary.update({
                "merge_s": (self.merge_s, "s"),
                "fresh_s": (self.fresh_s, "s"),
                "batch_qps": ((PROBE_Q + 1) / self.probe_s, "1/s"),
                "live_bytes_per_live_doc": (
                    index_bytes(self.index) / self.live, "bytes"),
            })
        return {
            "setup_s": (self.setup_s, "s"),
            "peak_rss_mb": (peak_rss / 2**20, "MB"),
            "index_bytes_per_input_byte": (
                self.base_index_bytes / self.input_bytes, "ratio"),
        }

    def per_layer(self) -> dict:
        import pyarrow.dataset as ds

        tr, block = self.tracer, self.gen.BLOCK
        own = tr.self_times()
        agg, terms = {}, set()
        for i, s in enumerate(tr.spans):
            ctx = s[4]
            if not (ctx and ctx[0] == "read" and ctx[1] < block):
                continue
            a = agg.setdefault(s[0], {"self": 0.0, "calls": 0, "info": {}})
            a["self"] += own[i]
            a["calls"] += 1
            for key, v in (s[5] or {}).items():
                if key == "term":
                    terms.add((ctx, v))
                else:
                    a["info"][key] = a["info"].get(key, 0) + v

        def ms(name):  # self time per read
            return agg.get(name, {"self": 0.0})["self"] * 1e3 / block

        def per_read(name, key=None):
            a = agg.get(name, {"calls": 0, "info": {}})
            return (a["info"].get(key, 0) if key else a["calls"]) / block

        opens = [own[i] for i, s in enumerate(tr.spans)
                 if s[0] == "index.reader.open"]
        lineage = self.lineage_seconds()
        build, after = self.layer["build_index"], self.layer["after_commit"]
        batches, commit = self.layer["batches"], self.layer["commit"]
        return {
            "index.builder.doc_stats_s": (lineage.get("doc_stats", 0.0), "s"),
            "index.builder.postings_s": (lineage.get("postings", 0.0), "s"),
            "index.builder.lexicon_s": (lineage.get("lexicon", 0.0), "s"),
            "index.builder.spark_jobs": (self.build_counts["spark_jobs"],
                                         "count"),
            "index.builder.tasks": (self.build_counts["tasks"], "count"),
            "index.builder.shuffle_write_bytes": (
                self.build_counts["shuffle_write_bytes"], "bytes"),
            "index.bytes.postings": (build["postings"][0], "bytes"),
            "index.bytes.lexicon": (build["lexicon"][0], "bytes"),
            "index.bytes.doc_stats": (build["doc_stats"][0], "bytes"),
            "index.files.postings": (build["postings"][1], "count"),
            "index.files.postings_after_commit": (after["postings"][1],
                                                  "count"),
            "index.blocks": (self.base_blocks, "count"),
            "index.codecs.vbyte_decode_ms": (
                ms("index.codecs.vbyte_decode"), "ms"),
            "index.codecs.decoded_values": (
                per_read("index.codecs.vbyte_decode", "values"), "count"),
            "index.reader.open_ms": (statistics.median(opens) * 1e3, "ms"),
            "index.reader.blocks_ms": (ms("index.reader.blocks"), "ms"),
            "index.reader.blocks_calls_per_query": (
                per_read("index.reader.blocks"), "count"),
            "index.reader.blocks_calls_per_distinct_term": (
                agg.get("index.reader.blocks", {"calls": 0})["calls"]
                / max(len(terms), 1), "ratio"),
            "index.reader.term_info_ms": (ms("index.reader.term_info"), "ms"),
            "index.reader.expand_ms": (ms("index.reader.expand"), "ms"),
            "index.reader.decode_ms": (ms("index.reader.decode"), "ms"),
            "index.reader.resolve_ms": (ms("index.reader.resolve"), "ms"),
            "query.parser.parse_ms": (
                ms("query.parser.parse") + ms("query.parser.expand"), "ms"),
            "query.parser.expanded_terms_per_query": (
                per_read("query.parser.expand", "terms"), "count"),
            "query.searcher.self_ms": (ms("query.searcher.search"), "ms"),
            "query.searcher.postings_per_query": (
                per_read("index.reader.decode", "postings"), "count"),
            "query.searcher.vec_share": (
                sum(self.layer["vec"]) / max(len(self.layer["vec"]), 1),
                "ratio"),
            "query.executor_df.spark_jobs": (
                statistics.median(b["spark_jobs"] for b in batches), "count"),
            "query.executor_df.tasks": (
                statistics.median(b["tasks"] for b in batches), "count"),
            "query.executor_df.first_batch_s": (self.probe_s, "s"),
            "query.executor_df.warm_batch_s": (self.layer["warm_batch_s"],
                                               "s"),
            "index.merge.spark_jobs": (commit["spark_jobs"], "count"),
            "index.merge.tasks": (commit["tasks"], "count"),
            "index.merge.files_added": (commit["files_added"], "count"),
            "index.merge.bytes_added": (commit["bytes_added"], "bytes"),
            "index.merge.live_bytes_per_live_doc": (
                index_bytes(self.index) / self.live, "bytes"),
            "index.merge.tombstones": (ds.dataset(
                os.path.join(self.index, "_tombstones"),
                ignore_prefixes=[".", "_"]).count_rows(), "count"),
        }

    def lineage_seconds(self) -> dict:
        import pyarrow.dataset as ds

        t = ds.dataset(os.path.join(self.index, "_lineage")).to_table()
        return {s: sec for r, s, sec in zip(t["run_id"].to_pylist(),
                                            t["stage"].to_pylist(),
                                            t["seconds"].to_pylist())
                if r == "perfbench-build"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # the engine iterates over sets of strings; with a fixed hash seed
        # that order, and so every work counter, repeats from run to run
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])

    if not os.path.isfile(os.path.join(ROOT, "lucille_spark", "session.py")):
        print("perfbench: lucille_spark not found next to perfbench/; run "
              "from a full checkout", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    os.makedirs(work)
    # keep every temp file of this process tree inside the checkout, and
    # let the Python workers import the engine
    os.environ["TMPDIR"] = work
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT]
    run = None
    try:
        with RssSampler() as rss:
            run = Run(args.workload, args.seed, args.seconds,
                      bool(args.trace), work)
            run.setup()
            getattr(run, args.workload)()
        e2e = run.end_to_end(rss.peak)
        metrics = run.per_layer() if args.trace else e2e
        if args.trace:
            traces = os.path.join(work_root, "traces")
            os.makedirs(traces, exist_ok=True)
            run.tracer.dump(os.path.join(
                traces, f"{args.workload}-{args.seed}.jsonl"))
    finally:
        try:
            if run is not None:
                run.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            log("stopped")
    for name, (value, unit) in e2e.items():
        print(f"{args.workload:12s} {name:28s} {value:14.4f} {unit}")
    for name, (value, unit) in run.summary.items():
        print(f"{args.workload:12s} {name:28s} {value:14.4f} {unit}")
    for f in run.failures:
        print(f"failure: {f}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
