"""Incremental merge (upsert/delete) contract — SolrIndexer sendToIndex
semantics on the from-scratch index (indexer/SolrIndexer.java:151-245)."""

import math

import pytest


@pytest.fixture()
def base_corpus(spark):
    from lucille_spark.corpus import corpus_df

    return corpus_df(spark, 600, partitions=5)


def _build(spark, corpus, out):
    from lucille_spark.index.builder import build_index

    build_index(corpus, out, fields=("content",), block_size=32,
                docs_per_salt=64)
    return out


def test_pure_add_merge_rank_identical_to_rebuild(spark, base_corpus,
                                                  tmp_path):
    from lucille_spark.corpus import corpus_df
    from lucille_spark.index.merge import merge_index
    from lucille_spark.query.searcher import IndexSearcher

    inc = _build(spark, base_corpus, str(tmp_path / "inc"))
    extra = corpus_df(spark, 800, partitions=3).filter("repo like 'org1/%'") \
        .limit(150)
    # make the delta disjoint from base by renaming repos
    from pyspark.sql import functions as F

    extra = extra.withColumn("repo", F.concat(F.lit("new/"), F.col("repo")))
    res = merge_index(extra, inc, fields=("content",), block_size=32,
                      docs_per_salt=64)
    assert res["added"] > 0 and res["tombstoned"] == 0

    # ground truth: one fresh build over the union
    full = _build(spark, base_corpus.unionByName(extra),
                  str(tmp_path / "full"))
    # Contract: identical scores; identical doc sets within each tie group.
    # (Exact-tie ORDER may differ between an incrementally-merged index and
    # a fresh rebuild because ordinal assignment differs — the same way
    # Lucene docIDs depend on segment history.)
    si, sf = IndexSearcher(inc), IndexSearcher(full)
    for q in ["content:test OR content:giraffe",
              "content:return AND content:import",
              "content:if", "content:term30 OR content:term100"]:
        got, want = si.search(q, 10), sf.search(q, 10)
        gs = [round(s, 9) for _, s in got]
        ws = [round(s, 9) for _, s in want]
        assert gs == ws, q
        from collections import defaultdict

        def groups(hits):
            g = defaultdict(set)
            for d, s in hits:
                g[round(s, 9)].add(d)
            return g

        gg, wg = groups(got), groups(want)
        for score in gg:
            if len(gg[score]) == len(wg[score]):
                assert gg[score] == wg[score], (q, score)
            # boundary tie group truncated by k: subset relation suffices


def test_upsert_and_delete(spark, base_corpus, tmp_path):
    from pyspark.sql import functions as F

    from lucille_spark.index.builder import add_doc_identity
    from lucille_spark.index.merge import merge_index
    from lucille_spark.query.searcher import IndexSearcher

    idx = _build(spark, base_corpus, str(tmp_path / "idx"))
    ident = add_doc_identity(base_corpus)
    victim = ident.select("repo", "path", "commit", "lang", "doc_id") \
        .orderBy("doc_id").limit(2).collect()

    # upsert: same (repo,path,commit) => same doc_id, new content with a
    # marker term; delete: second victim gone entirely
    up = spark.createDataFrame(
        [(victim[0]["repo"], victim[0]["path"], victim[0]["commit"],
          victim[0]["lang"], "zzzupdated content only words")],
        "repo string, path string, commit string, lang string, content string")
    dels = spark.createDataFrame([(victim[1]["doc_id"],)], "doc_id string")
    res = merge_index(up, idx, fields=("content",), deletes=dels,
                      block_size=32, docs_per_salt=64)
    assert res["added"] == 1 and res["tombstoned"] == 2

    s = IndexSearcher(idx)
    # new content searchable, attributed to the SAME doc_id
    hits = s.search("content:zzzupdated", 5)
    assert len(hits) == 1 and hits[0][0] == victim[0]["doc_id"]
    # deleted doc never comes back for anything
    for q in ["content:test", "content:if", "content:return OR content:import"]:
        assert victim[1]["doc_id"] not in {d for d, _ in s.search(q, 1000)}
    # boolean match path also excludes tombstones
    assert victim[1]["doc_id"] not in s.match("content:if")


def test_merge_reads_no_lineage_file(spark, tmp_path, monkeypatch):
    """A merge appends its ``_lineage`` rows, one per stage, without
    reading the table, which gains a file per stage of every commit."""
    import os

    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from lucille_spark.corpus import corpus_df
    from lucille_spark.index.merge import merge_index

    idx = _build(spark, corpus_df(spark, 60, partitions=2),
                 str(tmp_path / "idx"))
    assert os.listdir(os.path.join(idx, "_lineage"))
    lineage_reads = []

    def watch(fn):
        def read(source, *args, **kwargs):
            if "_lineage" in str(source):
                lineage_reads.append(source)
            return fn(source, *args, **kwargs)
        return read

    monkeypatch.setattr(ds, "dataset", watch(ds.dataset))
    monkeypatch.setattr(pq, "read_table", watch(pq.read_table))
    delta = corpus_df(spark, 70, partitions=1).filter("repo like 'org1/%'")
    merge_index(delta, idx, fields=("content",), block_size=32,
                docs_per_salt=64)
    assert lineage_reads == []


def test_avgdl_drift_keeps_wand_exact(spark, tmp_path, monkeypatch):
    """Merge a batch of much LONGER docs (avgdl grows => stored block-max
    bounds would under-estimate without the bound_avgdl scaling) and check
    that search at a window budget small enough to cut every query into
    many skippable windows stays rank-identical to exhaustive scoring."""
    import numpy as np
    import pandas as pd

    import lucille_spark.query.searcher as S
    from lucille_spark.index.builder import build_index
    from lucille_spark.index.merge import merge_index

    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(15)]

    def mk(n, lo, hi, tag):
        rows = []
        for i in range(n):
            ln = int(rng.integers(lo, hi))
            toks = [vocab[int(min(x, 14))]
                    for x in rng.exponential(3, ln).astype(int)]
            rows.append((f"r/{tag}", f"f{tag}{i}.py", "c0", "py",
                         " ".join(toks)))
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["repo", "path", "commit", "lang",
                                        "content"]))

    idx = str(tmp_path / "drift")
    build_index(mk(300, 8, 20, "short"), idx, fields=("content",),
                block_size=16, docs_per_salt=48)
    merge_index(mk(200, 200, 400, "long"), idx, fields=("content",),
                block_size=16, docs_per_salt=48)

    monkeypatch.setattr(S, "VEC_POSTINGS_MAX", 16)
    s = S.IndexSearcher(idx)
    for q in ["content:w0 OR content:w1", "content:w2 OR content:w5",
              "content:w0 AND content:w3",
              "content:w1 OR content:w4 OR content:w7",
              "content:w7", "content:w7 AND content:w1"]:
        for k in (3, 10, 25):
            got = s.search(q, k)
            want = s.search_exhaustive(q, k)
            assert got == want, (q, k)


def test_default_merge_keeps_the_manifest_fields(spark, tmp_path):
    """A merge or compaction without ``fields`` indexes the manifest's
    fields: an index built with ``lang`` keeps answering ``lang:``
    queries, new docs included, and other fields are refused."""
    import hashlib

    import numpy as np

    from lucille_spark.corpus import corpus_pdf
    from lucille_spark.index import snapshot
    from lucille_spark.index.builder import build_index
    from lucille_spark.index.merge import compact, merge_index
    from lucille_spark.query.oracle import OracleIndex
    from lucille_spark.query.searcher import IndexSearcher

    idx = str(tmp_path / "idx")
    build_index(spark.createDataFrame(corpus_pdf(np.arange(50))), idx,
                fields=("content", "lang"), block_size=32)
    merge_index(spark.createDataFrame(corpus_pdf(np.arange(50, 70))), idx,
                block_size=32)
    assert set(snapshot.load(idx)["stats"]) == {"content", "lang"}

    oracle = OracleIndex(
        [{"id": hashlib.sha256(f"{r.repo}\x00{r.path}\x00{r.commit}"
                               .encode()).hexdigest(),
          "content": r.content, "lang": r.lang}
         for r in corpus_pdf(np.arange(70)).itertuples()],
        fields=("content", "lang"))
    searcher = IndexSearcher(idx)
    for q in ("lang:rust", "lang:go OR content:import",
              "lang:python AND content:return"):
        got, want = searcher.search(q, 100), oracle.search(q, 100)
        assert got and sorted(d for d, _ in got) == sorted(
            d for d, _ in want), q

    with pytest.raises(ValueError, match="lang"):
        merge_index(spark.createDataFrame(corpus_pdf(np.arange(70, 75))),
                    idx, fields=("content",))

    cdir = str(tmp_path / "compact")
    compact(idx, spark.createDataFrame(corpus_pdf(np.arange(70))), cdir,
            block_size=32)
    assert set(snapshot.load(cdir)["stats"]) == {"content", "lang"}
    got = IndexSearcher(cdir).search("lang:rust", 100)
    assert got and sorted(d for d, _ in got) == sorted(
        d for d, _ in searcher.search("lang:rust", 100))
    with pytest.raises(ValueError, match="lang"):
        compact(idx, spark.createDataFrame(corpus_pdf(np.arange(70))),
                str(tmp_path / "compact2"), fields=("content",))


def test_compact_keeps_the_analyzer(spark, tmp_path):
    """A compaction without ``analyzer`` rebuilds with the manifest's:
    a ``code`` index keeps matching camelCase sub-tokens, and another
    analyzer is refused."""
    from lucille_spark.index import snapshot
    from lucille_spark.index.builder import build_index
    from lucille_spark.index.merge import compact
    from lucille_spark.query.searcher import IndexSearcher

    rows = [("o/r", f"f{i}.py", "c0", "python",
             "def getUserName(self): return self.name" if i % 4 == 0
             else "plain words only here")
            for i in range(20)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    idx, cdir = str(tmp_path / "idx"), str(tmp_path / "compact")
    build_index(corpus, idx, analyzer="code")
    before = sorted(d for d, _ in IndexSearcher(idx).search("content:user", 20))
    assert len(before) == 5

    compact(idx, corpus, cdir)
    assert snapshot.load(cdir)["analyzer"] == "code"
    assert sorted(
        d for d, _ in IndexSearcher(cdir).search("content:user", 20)) == before
    with pytest.raises(ValueError, match="analyzer"):
        compact(idx, corpus, str(tmp_path / "compact2"), analyzer="standard")


def test_a_commit_runs_at_most_9_spark_jobs(spark, tmp_path):
    """A perfbench-sized commit: a 200-doc build, then 45 new docs, 12
    upserts and 3 deletes. The merge reads the manifest's tables with
    their schema (no schema-inference job) and persists its ordered delta
    (no second run of the ordinal jobs for the doc_stats append): without
    both this commit ran 12 jobs."""
    import hashlib

    import numpy as np
    import pandas as pd

    from lucille_spark.corpus import corpus_pdf
    from lucille_spark.index.builder import build_index
    from lucille_spark.index.merge import merge_index

    idx = str(tmp_path / "idx")
    base = corpus_pdf(np.arange(200))
    build_index(spark.createDataFrame(base), idx)
    up = base.iloc[:12].copy()
    up["content"] = corpus_pdf(np.arange(1045, 1057))["content"].to_numpy()
    rows = spark.createDataFrame(pd.concat(
        [corpus_pdf(np.arange(1000, 1045)), up], ignore_index=True))
    gone = [hashlib.sha256(f"{r.repo}\x00{r.path}\x00{r.commit}".encode())
            .hexdigest() for r in base.iloc[12:15].itertuples()]
    deletes = spark.createDataFrame([(d,) for d in gone], "doc_id string")

    sc = spark.sparkContext
    sc.setJobGroup("commit-jobs", "commit-jobs")
    try:
        res = merge_index(rows, idx, deletes=deletes)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (res["added"], res["tombstoned"]) == (57, 15)
    jobs = sc.statusTracker().getJobIdsForGroup("commit-jobs")
    assert len(jobs) <= 9, len(jobs)


def test_a_build_runs_at_most_6_spark_jobs(spark, tmp_path):
    """The build under the commit above: 200 docs from a frame of driver
    rows. Its corpus stats are observed on the ordinal pass, with no job
    of their own."""
    import numpy as np

    from lucille_spark.corpus import corpus_pdf
    from lucille_spark.index.builder import build_index

    corpus = spark.createDataFrame(corpus_pdf(np.arange(200)))
    sc = spark.sparkContext
    sc.setJobGroup("build-jobs", "build-jobs")
    try:
        stats = build_index(corpus, str(tmp_path / "idx"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats["n_docs"] == 200
    jobs = sc.statusTracker().getJobIdsForGroup("build-jobs")
    assert len(jobs) <= 6, len(jobs)


def test_a_delete_only_commit(spark, tmp_path):
    """A commit of deletes and no docs (a streaming micro-batch of delete
    markers): it tombstones the deleted docs and stages nothing but its
    tombstone file, and no query returns a deleted doc."""
    import hashlib

    import numpy as np

    from lucille_spark.corpus import corpus_pdf
    from lucille_spark.index import snapshot
    from lucille_spark.index.builder import build_index
    from lucille_spark.index.merge import merge_index
    from lucille_spark.query.searcher import IndexSearcher

    idx = str(tmp_path / "idx")
    base = corpus_pdf(np.arange(200))
    frame = spark.createDataFrame(base)
    build_index(frame, idx)
    gone = [hashlib.sha256(f"{r.repo}\x00{r.path}\x00{r.commit}".encode())
            .hexdigest() for r in base.iloc[5:8].itertuples()]
    queries = ["content:test", "content:if",
               "content:return OR content:import", "content:import*"]
    s = IndexSearcher(idx)
    before = {q: ({d for d, _ in s.search(q, 1000)}, set(s.match(q)))
              for q in queries}
    # every deleted doc was an answer before
    assert set(gone) <= set().union(*(hits | matched
                                      for hits, matched in before.values()))
    manifest = snapshot.load(idx)

    res = merge_index(frame.limit(0), idx, deletes=spark.createDataFrame(
        [(d,) for d in gone], "doc_id string"))
    assert {k: res[k] for k in ("added", "tombstoned")} == {
        "added": 0, "tombstoned": 3}
    after = snapshot.load(idx)
    added = {t: set(after["files"][t]) - set(manifest["files"][t])
             for t in snapshot.TABLES}
    assert {t: len(names) for t, names in added.items() if names} == {
        "_tombstones": 1}
    assert all(set(manifest["files"][t]) <= set(after["files"][t])
               for t in snapshot.TABLES)
    assert after["stats"]["content"]["n_docs"] == \
        manifest["stats"]["content"]["n_docs"] - 3
    s = IndexSearcher(idx)
    for q in queries:
        assert not set(gone) & {d for d, _ in s.search(q, 1000)}, q
        assert not set(gone) & set(s.match(q)), q


def test_a_build_of_no_docs_raises(spark, tmp_path):
    """A build is a commit, and a commit of no docs stages no postings or
    lexicon file, so a build of none would publish a version that no
    reader opens: it raises and publishes nothing."""
    import os

    import numpy as np

    from lucille_spark.corpus import corpus_pdf
    from lucille_spark.index import snapshot
    from lucille_spark.index.builder import build_index

    idx = str(tmp_path / "idx")
    frame = spark.createDataFrame(corpus_pdf(np.arange(3)))
    with pytest.raises(ValueError, match="at least one document"):
        build_index(frame.limit(0), idx)
    assert snapshot.latest(idx) is None
    assert not any(snapshot.data_files(os.path.join(idx, t))
                   for t in snapshot.TABLES)
