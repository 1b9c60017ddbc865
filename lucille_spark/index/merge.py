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
- one commit path (``builder._commit``, the one a build runs onto an
  empty base): the merge's base is the latest manifest (snapshot.py),
  and the commit stages its doc_stats/tombstones/postings/lexicon
  appends and publishes the next manifest. What is the merge's own is
  kept here: the fields check, the run_id replay, the last write per id,
  and the tombstones of the base. The lexicon append holds the rows of the
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

import uuid
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lucille_spark import BLOCK_SIZE
from lucille_spark.index import snapshot
from lucille_spark.index.builder import _commit, _Ledger, add_doc_identity


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
    base = snapshot.load(index_dir)
    if fields is None:
        fields = tuple(base["stats"])
    elif set(fields) != set(base["stats"]):
        raise ValueError(f"merge fields {sorted(fields)} differ from the "
                         f"index's {sorted(base['stats'])}")
    manifest = base
    if run_id != base["run_id"]:
        run_id = run_id or f"merge-{uuid.uuid4().hex[:12]}"
        manifest = _commit(
            last_writes(add_doc_identity(new_corpus), order_col), index_dir,
            base, fields, _Ledger(index_dir, run_id),
            analyzer=base["analyzer"], store_positions=store_positions,
            block_size=block_size, docs_per_salt=docs_per_salt,
            tombstones=lambda ids: _tombstones(index_dir, base, fields, ids,
                                               deletes))
    return {"added": manifest["added"],
            "tombstoned": manifest["tombstoned"],
            "avgdl": {f: manifest["stats"][f]["avgdl"] for f in fields}}


def _tombstones(index_dir: str, base: dict, fields: Sequence[str],
                ids: DataFrame, deletes: Optional[DataFrame]) -> DataFrame:
    """The live docs of ``base`` that the batch's ``ids`` supersede or
    ``deletes`` names, as (doc_ord, dl_<field>...).

    Only LIVE rows are tombstoned: doc_stats is append-only, so a doc_id
    upserted twice has a dead row whose ordinal is ALREADY in _tombstones
    — counting it again would re-subtract its dl and corrupt the corpus
    stats (n_docs/avgdl and hence every idf). Anti-join the existing
    tombstones. The base's tables are read with the schema the merge
    uses, which spares each read a schema-inference job over a file
    footer, and by the files its manifest lists, so the commit's own
    doc_stats append is not among them."""
    spark = ids.sparkSession
    live = spark.read.schema(", ".join(
        ["doc_id string", "doc_ord long"]
        + [f"dl_{f} long" for f in fields])).parquet(
        *snapshot.paths(index_dir, base, "doc_stats"))
    tomb_paths = snapshot.paths(index_dir, base, "_tombstones")
    if tomb_paths:
        dead = (spark.read.schema("doc_ord long").parquet(*tomb_paths)
                .distinct())
        live = live.join(dead, "doc_ord", "left_anti")
    if deletes is not None:
        ids = ids.unionByName(deletes.select("doc_id").coalesce(1))
    return (live.join(F.broadcast(ids.distinct()), "doc_id")
            .select("doc_ord", *[f"dl_{f}" for f in fields]))


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
