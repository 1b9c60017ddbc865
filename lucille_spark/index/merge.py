"""Incremental index merge: bulk upsert/delete into an existing index —
the SolrIndexer/OpenSearchIndexer sendToIndex contract
(/root/reference/lucille-core/.../indexer/SolrIndexer.java:151-245: bulk
add/update + delete-by-id, final state per id = last operation) applied to
the from-scratch index instead of a Solr collection.

Mechanics (Lucene-segment-like):
- new/updated docs get FRESH ordinals above every existing ordinal (dense,
  sha-ordered within the batch), so their posting blocks sort strictly
  after existing blocks per term — append-only postings, no rewrite.
- superseded ordinals (upserts) and deleted doc_ids become tombstones;
  the searcher excludes them everywhere. As in Lucene, corpus statistics
  keep counting tombstoned postings until compaction; the manifest's
  corpus stats (N, avgdl) however track LIVE docs exactly.
- one commit point (snapshot.py): the merge reads the latest manifest's
  files, stages its postings/doc_stats/tombstones/lexicon appends, and
  publishes the next manifest. The lexicon append holds the rows of the
  delta blocks only: the merge reads no lexicon file, and the reader
  folds a term's rows across commits, as Lucene sums term statistics
  across segments. A crash before the publish leaves the previous
  version exactly as it was; the retry ignores the crashed attempt's
  unlisted files. A merge with the run_id of the latest manifest is a
  replay: it returns that commit's counts and writes nothing. Delta docs
  are tokenized with the analyzer the manifest records.
- avgdl drift safety: blocks record the avgdl their score bounds were
  computed with (``bound_avgdl``); the searcher's window bound scales
  them by max(1, avgdl_now/bound_avgdl) — provably an upper bound
  (mediant inequality), so block-max skipping stays exact across merges.
- ``compact()`` folds tombstones away with a full rebuild over live docs,
  with the manifest's fields and analyzer.
"""

from __future__ import annotations

import os
import time
import uuid
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lucille_spark import BLOCK_SIZE
from lucille_spark.analysis.analyzers import tokenizer
from lucille_spark.index import snapshot
from lucille_spark.index.builder import (
    _job_scope, _Ledger, add_doc_identity, doc_stats_columns, lexicon_rows,
    one_partition, postings_blocks, postings_layout, write_index_table,
)
from lucille_spark.index.ordinals import assign_doc_ord


def last_writes(docs: DataFrame,
                order_col: Optional[str] = None) -> DataFrame:
    """One row per doc_id of ``docs`` (which carry ``add_doc_identity``'s
    columns), the last write: the highest ``order_col`` when given (a
    source offset or sequence; nulls lose), else the highest
    content_sha256, a deterministic tiebreak. Repeated ids would
    multiply rows through the ordinal join-back and double postings."""
    w = Window.partitionBy("doc_id").orderBy(
        F.col(order_col).desc_nulls_last() if order_col
        else F.col("content_sha256").desc())
    return (docs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def merge_index(
    new_corpus: DataFrame,
    index_dir: str,
    fields: Optional[Sequence[str]] = None,
    deletes: DataFrame | None = None,       # df with doc_id column
    store_positions: bool = True,
    block_size: int = BLOCK_SIZE,
    docs_per_salt: int = 1 << 17,
    run_id: Optional[str] = None,
    order_col: Optional[str] = None,
) -> dict:
    """Upsert ``new_corpus`` rows (and apply ``deletes``) into the index.

    Duplicate doc_ids WITHIN the batch collapse to one row before ordinal
    assignment (:func:`last_writes`): last write wins by ``order_col`` when
    given (a source offset/sequence column — Indexer.java sendToIndex
    order), else by a deterministic content_sha256 tiebreak.

    ``fields`` None means the manifest's fields; other fields raise
    ValueError, since the manifest's corpus stats would lose a field.

    ``run_id`` None means a fresh id. With the run_id of the latest
    manifest the call is a replay (a re-run micro-batch): it returns that
    commit's ``added``/``tombstoned`` and writes nothing.

    ``deletes`` is driver-sized: the merge broadcasts the gone ids whole,
    so it reads ``deletes`` as one partition, in one task. A frame built
    from a Python list has ``defaultParallelism`` slices, each a Python
    task: read slice by slice, three deleted ids forked a Python worker
    per core; read as one partition, they run in the one worker the build
    left idle. A caller whose deletes come out of an expensive plan puts
    an exchange under them (``.distinct()``, as ``StreamingIndexer``
    does), so the plan below the exchange keeps its parallelism. With the
    one pool of an engine session (``session.py``) a commit then runs all
    its Python in one worker; a session the engine did not make
    (``jobs/build_index_job.py``) keeps a second pool for RDD-path Python,
    but its deletes still run as one task.
    """
    spark = new_corpus.sparkSession
    base = snapshot.load(index_dir)
    old_stats = base["stats"]
    if fields is None:
        fields = tuple(old_stats)
    elif set(fields) != set(old_stats):
        raise ValueError(f"merge fields {sorted(fields)} differ from the "
                         f"index's {sorted(old_stats)}")
    if run_id == base["run_id"]:
        return {"added": base["added"], "tombstoned": base["tombstoned"],
                "avgdl": {f: old_stats[f]["avgdl"] for f in fields}}
    run_id = run_id or f"merge-{uuid.uuid4().hex[:12]}"
    tok_fn = tokenizer(base["analyzer"])
    with _job_scope(spark) as cache:
        t0 = time.time()

        # everything old comes from the manifest: the corpus stats, the
        # ordinal high-water mark, and exactly the files of its version.
        # Its tables are read with the schema the merge uses, which spares
        # each read a schema-inference job over a file footer.
        doc_stats = spark.read.schema(", ".join(
            ["doc_id string", "doc_ord long"]
            + [f"dl_{f} long" for f in fields])).parquet(
            *snapshot.paths(index_dir, base, "doc_stats"))
        max_ord = base["ord_span"] - 1

        # delta rows (ordinals attached AFTER the stats job below, so the
        # batch size can pick the cheap ordinal path)
        delta = last_writes(add_doc_identity(new_corpus), order_col)
        for f_name in fields:
            delta = delta.withColumn(
                f"dl_{f_name}",
                F.size(tok_fn(F.col(f_name))).cast("long"))
        delta = cache(delta)

        # tombstones: superseded versions of upserted ids + explicit
        # deletes. Only LIVE rows are tombstoned: doc_stats is append-only,
        # so a doc_id upserted twice has a dead row whose ordinal is ALREADY
        # in _tombstones — counting it again would re-subtract its dl and
        # corrupt the corpus stats (n_docs/avgdl and hence every idf).
        # Anti-join the existing tombstones.
        gone_ids = delta.select("doc_id")
        if deletes is not None:
            gone_ids = gone_ids.unionByName(
                deletes.select("doc_id").coalesce(1))
        tomb_paths = snapshot.paths(index_dir, base, "_tombstones")
        live_stats = doc_stats
        if tomb_paths:
            dead = (spark.read.schema("doc_ord long").parquet(*tomb_paths)
                    .distinct())
            live_stats = doc_stats.join(dead, "doc_ord", "left_anti")
        # localCheckpoint: the tombstones feed the stats job and their own
        # write below; checkpointing makes both see one materialization.
        # LAZY (eager=False): the combined stats job below is the first
        # action, so materializing here would just spend an extra Spark job
        # per micro-batch on the same work (guide §1.2: fewer passes).
        tombs = (live_stats.join(F.broadcast(gone_ids.distinct()), "doc_id")
                 .select("doc_ord", *[f"dl_{f}" for f in fields])
                 ).localCheckpoint(eager=False)

        # ONE combined stats job for what used to be three (checkpoint
        # materialize + tombstone agg + delta agg): a micro-batch pays
        # ~0.3-0.5 s of scheduling per Spark job, which dominates 100-doc
        # merges. The union also materializes the delta cache and the
        # tombstone checkpoint in the same pass.
        stats_u = (delta.select(
            F.lit(1).alias("_is_delta"),
            *[F.col(f"dl_{f}").alias(f"dl_{f}") for f in fields])
            .unionByName(tombs.select(
                F.lit(0).alias("_is_delta"),
                *[F.col(f"dl_{f}") for f in fields])))
        srows = {int(r["_is_delta"]): r for r in (
            stats_u.groupBy("_is_delta").agg(
                F.count("*").alias("n"),
                *[F.sum(f"dl_{f}").alias(f"total_{f}") for f in fields])
            .collect())}
        _empty = {"n": 0, **{f"total_{f}": 0 for f in fields}}
        agg = srows.get(1, _empty)
        tomb_agg = srows.get(0, _empty)
        n_tomb = int(tomb_agg["n"])
        n_delta = int(agg["n"])

        # fresh ordinals above everything existing. (r7 note: a "cheap"
        # global-window rank — provably the same ordinals, since the bucket
        # prefix is monotone in doc_id — was tried for small batches and
        # REJECTED on measurement: the SinglePartition exchange it forces
        # under the postings plan made the 100-doc postings write 16-20 s vs
        # 3.2-3.6 s with the bucketed path.)
        # Persisted, as build_index persists its docs: the postings write
        # materializes it, and the doc_stats append reads it instead of
        # running the ordinal jobs again.
        unordered = delta
        delta = cache(assign_doc_ord(delta, "doc_id").withColumn(
            "doc_ord", F.col("doc_ord") + F.lit(max_ord + 1)))

        # live corpus stats: subtract tombstoned dls, add delta dls
        stats, avgdl_by_field = {}, {}
        for f_name in fields:
            dead_total = int(tomb_agg[f"total_{f_name}"] or 0)
            live_n = int(old_stats[f_name]["n_docs"]) - n_tomb + n_delta
            live_total = (int(old_stats[f_name]["total_terms"]) - dead_total
                          + int(agg[f"total_{f_name}"] or 0))
            avgdl = live_total / live_n if live_n else 0.0
            avgdl_by_field[f_name] = avgdl
            stats[f_name] = {"n_docs": live_n, "avgdl": avgdl,
                             "total_terms": live_total}

        # delta postings appended; blocks carry bound_avgdl = avgdl_new.
        # Persisted so the lexicon append below aggregates the delta
        # blocks without encoding them again. builder.postings_layout is
        # the build's write rule: a delta whose every field totals
        # <= docs_per_salt tokens is appended as its one term-sorted
        # encode partition (no hot-table job, no boundary-sampling pass,
        # no small-file accretion); a larger delta gets the
        # range-partitioned write.
        totals = {f: int(agg[f"total_{f}"] or 0) for f in fields}
        blocks = cache(postings_blocks(
            delta, fields, avgdl_by_field, ord_span=max_ord + 1 + n_delta,
            tok_fn=tok_fn, block_size=block_size,
            docs_per_salt=docs_per_salt, store_positions=store_positions,
            totals_by_field=totals))

        files = dict(base["files"])

        def append(data, table):
            """Stage ``data`` as new files of ``table``, which the new
            manifest lists after the old ones."""
            files[table] = files[table] + write_index_table(
                data, os.path.join(index_dir, table), mode="append")

        append(postings_layout(blocks, fields, totals, docs_per_salt),
               "postings")
        # the ordered delta is materialized now; its input is not needed
        unordered.unpersist()

        # one doc_stats, tombstone and lexicon file for a small delta:
        # coalesce over the cached delta, the checkpoint and the blocks
        # is narrow, no job added
        small = one_partition(spark, fields, totals, docs_per_salt)

        def rows(df):
            return df.coalesce(1) if small else df

        append(rows(delta.select(*doc_stats_columns(new_corpus.columns,
                                                    fields))), "doc_stats")
        if n_tomb:
            append(rows(tombs.select("doc_ord")), "_tombstones")
        append(lexicon_rows(blocks, one_file=small), "lexicon")

        snapshot.publish(
            index_dir, base, run_id=run_id, ord_span=max_ord + 1 + n_delta,
            analyzer=base["analyzer"], stats=stats, files=files,
            added=n_delta, tombstoned=n_tomb)
        _Ledger(index_dir, run_id).record("merge", n_delta, t0)
        return {"added": n_delta, "tombstoned": n_tomb,
                "avgdl": avgdl_by_field}


def compact(index_dir: str, live_corpus: DataFrame, out_dir: str,
            fields: Optional[Sequence[str]] = None, **kwargs) -> dict:
    """Fold tombstones away: full rebuild of the index over the live corpus
    (the Lucene segment-merge equivalent). The caller supplies the live
    corpus (content is not stored in the index tables). ``fields`` follows
    the :func:`merge_index` rule: None means the manifest's fields. The
    rebuild keeps the manifest's analyzer; another raises ValueError."""
    from lucille_spark.index.builder import build_index

    base = snapshot.load(index_dir)
    index_fields = tuple(base["stats"])
    if fields is None:
        fields = index_fields
    elif set(fields) != set(index_fields):
        raise ValueError(f"compact fields {sorted(fields)} differ from the "
                         f"index's {sorted(index_fields)}")
    analyzer = kwargs.pop("analyzer", base["analyzer"])
    if analyzer != base["analyzer"]:
        raise ValueError(f"compact analyzer {analyzer!r} differs from the "
                         f"index's {base['analyzer']!r}")
    return build_index(live_corpus, out_dir, fields=fields,
                       analyzer=analyzer, **kwargs)
