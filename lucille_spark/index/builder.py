"""Distributed inverted-index build: the from-scratch replacement for the
Solr/ES/OpenSearch half that the reference hands off to
(SURVEY.md §0; ``/root/reference/lucille-core/.../indexer/SolrIndexer.java``
is the hand-off point we replace).

Dataflow (all DataFrame; Python appears only in Arrow-vectorized UDFs):

  corpus(repo,path,commit,lang,content)
    -> doc_id = sha256(repo \\x00 path \\x00 commit), content_sha256  [narrow]
    -> dense doc_ord (ordinals.py)                       [1 count + window]
    -> tokenize (regexp_extract_all, JVM codegen) -> posexplode
       -> (term, doc_ord, pos:int32, dl:int32)           [narrow]
    -> cf-per-term agg (map-side partial combine)        [tiny shuffle]
    -> SALTING: terms with cf > docs_per_salt get n_salts = ceil(cf/dps)
       via a *broadcast* join (hot table provably small:
       |hot| <= total_tokens / docs_per_salt); salt = doc_ord range bucket
       so per-salt doc ranges are disjoint and globally ordered
    -> repartition(parts, term, salt) + sortWithinPartitions(term, salt)
       + mapInArrow encode  [the ONE corpus-sized shuffle; salting bounds
       every group; parts is 1 for a field of <= docs_per_salt tokens].
       The kernel encodes each Arrow batch's complete (term, salt) groups
       in one vectorized pass (lexsort, per-doc tf/positions runs) and
       carries the batch's last group into the next batch, emitting
       128-doc blocks: first/last doc, n_docs, block_max_tfnorm and the
       doc_gaps/tfs/positions payload, coded by codecs.py alone. A block
       stores no salt: a term's blocks are ordered by first_doc
    -> postings write (postings_layout): as the encode left it when every
       field is one partition, else repartitionByRange(field, term)
       + sortWithinPartitions                            [small indexes:
                                                          no exchange]
    -> lexicon = lexicon_rows(blocks): df per (field,term)  [tiny shuffle]

A build and a merge are one commit (:func:`_commit`): a build commits
its corpus onto an empty base, a merge its delta onto the latest
version. The doc count and token totals are observed on the ordinal
pass, the tombstoned ones on the tombstone write, so the corpus stats
take no job of their own. Every table is appended, and the version lists
the base's files plus exactly the files the commit staged.

Output tables (parquet dir layout), every one written by
:func:`write_index_table`: zstd pages, no statistics on the opaque postings
payload columns (doc_gaps, tfs, positions), min/max kept on every other
column:
  postings/      (field, term)-sorted in every file, which lookups slice:
                 one file per field when every field has <= docs_per_salt
                 tokens, else range-partitioned on (field, term) into
                 max(defaultParallelism, 8) files; merges append files
                 by the same rule (:func:`postings_layout`)
  lexicon/       (field,term,df), sorted by (field, term) within each
                 file, in as many files as the postings at most; a
                 merge appends its delta's rows (:func:`lexicon_rows`)
  doc_stats/     (doc_id,doc_ord,dl_<field>...,repo,path,commit,lang,content_sha256)
                 the ONE home of a doc's length per field
  _meta/         one JSON manifest per version (:mod:`snapshot`): the
                 index format, the files of every table that version
                 sees, its ord_span, analyzer and per-field corpus stats
                 (n_docs, avgdl, total_terms). Publishing it is the
                 commit; readers open exactly the files it lists.
  _lineage/      a row per stage of every commit, with the files it
                 staged (metrics; a crashed build's resume)
Merges add _tombstones/ (doc_ord) through the same writer.

Each fact is stored once (format 2). A posting's tf lives in ``tfs`` and
nowhere else: the positions stream holds only position gaps, and its
per-doc counts are the tfs. A doc's length lives in ``doc_stats`` and not
in its postings: the reader loads one dense int32 ``doc_ord -> dl`` array
per scored field, 4 bytes x ord_span, and gathers from it when it scores.
That is the trade-off of Lucene's norms: per-posting lengths cost one
value per (term, doc), about 48 KB of the 231 KB postings of the 200-doc
perfbench corpus, while the array costs one per doc and fits any index a
single driver can search (10^8 ordinals are 400 MB per field).

Each stored column has a reader (format 4): the lexicon holds only df,
and a block only what the decoder and the block-max windows read. Format
5 drops the salt and block sequence number of a block, which no reader
read, and :mod:`codecs` is the one home of the block payload layout.
"""

from __future__ import annotations

import os
import time
import uuid
from contextlib import contextmanager
from itertools import chain
from typing import Callable, Optional, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from lucille_spark import BLOCK_SIZE, BM25_B, BM25_K1
from lucille_spark.analysis import tokenize_col
from lucille_spark.analysis.analyzers import tokenizer
from lucille_spark.index import codecs, snapshot
from lucille_spark.index.ordinals import assign_doc_ord

POSTINGS_SCHEMA = (
    "field string, term string, first_doc long, last_doc long, n_docs int, "
    "doc_gaps binary, tfs binary, positions binary, "
    "block_max_tfnorm double, bound_avgdl double"
)


# postings payload columns: opaque varbyte streams that nothing prunes on,
# so min/max and size statistics on them would be dead footer bytes
PAYLOAD_COLUMNS = ("doc_gaps", "tfs", "positions")


def write_index_table(data, path: str) -> list:
    """The one writer of every index table, so every table gets the same
    parquet options whatever the session config says: zstd pages, and no
    min/max or size statistics on the :data:`PAYLOAD_COLUMNS`. Every other
    column keeps its min/max; the reader picks postings row groups by those
    of field and term. Readers need no option:
    parquet records the codec per file, so an index whose files use
    another codec (Spark's default snappy) stays readable and mergeable.

    ``data`` is a Spark DataFrame, or a pyarrow Table for the TINY
    ``_lineage`` rows, which pyarrow appends directly: launching a Spark
    job for a 1-row table costs ~0.3-0.5 s of scheduling per write.

    Every write appends: it deletes no file a published version lists.
    Returns the names of the data files the write added, from a listing
    of ``path`` before and after it: what a commit lists for the table
    (:mod:`snapshot`)."""
    before = snapshot.data_files(path)
    if not isinstance(data, pa.Table):
        w = (data.write.mode("append").option("compression", "zstd")
             .option("parquet.column.statistics.enabled", "true")
             .option("parquet.size.statistics.enabled", "false"))
        for col in PAYLOAD_COLUMNS:
            if col in data.columns:
                w = w.option(f"parquet.column.statistics.enabled#{col}",
                             "false")
        w.parquet(path)
    else:
        os.makedirs(path, exist_ok=True)
        # write-then-rename: listings ignore dot-prefixed files, and
        # rename is atomic, so no reader sees a half-written footer
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(path, "." + name)
        pq.write_table(data, tmp, compression="zstd", write_statistics=[
            c for c in data.column_names if c not in PAYLOAD_COLUMNS])
        os.rename(tmp, os.path.join(path, name))
    return sorted(snapshot.data_files(path) - before)


def add_doc_identity(corpus: DataFrame) -> DataFrame:
    """doc_id = sha256(repo\\x00path\\x00commit); content_sha256 invariant col."""
    return corpus.withColumn(
        "doc_id",
        F.sha2(F.concat_ws("\x00", F.col("repo"), F.col("path"),
                           F.col("commit")).cast("binary"), 256),
    ).withColumn("content_sha256", F.sha2(F.col("content").cast("binary"), 256))


def _postings_encoder(avgdl: float, block_size: int,
                      store_positions: bool, field: str = "content"):
    """mapInArrow kernel over RAW TOKEN OCCURRENCES (term, salt, doc_ord,
    pos, dl) sorted by (term, salt) within the partition.

    Each Arrow batch (at most ``spark.sql.execution.arrow.maxRecordsPerBatch``
    rows) is encoded together with the rows carried over from the batches
    before it, except its last (term, salt) group, which may continue in
    the next batch and is carried over in turn; the final carry is encoded
    when the input ends. So every group is encoded whole, and the working
    set stays batch-sized however large the partition is.

    One encode is a single vectorized pass over all of its groups: one
    lexsort + run-length boundaries give the per-doc (tf, positions), and
    reduceat block aggregates plus ONE :func:`codecs.encode_segments` per
    payload column (its layout is :mod:`codecs`'s) give the 128-doc blocks
    of each group and their block_max_tfnorm. ``dl`` enters only the
    tfnorm bounds: the reader takes a posting's dl from doc_stats. No
    Python call per group."""
    k1, b = BM25_K1, BM25_B

    def encode(tbl: "pa.Table") -> "pa.RecordBatch":
        denc = pc.dictionary_encode(tbl.column("term").combine_chunks())
        codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        dictionary = denc.dictionary
        doc = tbl.column("doc_ord").to_numpy().astype(np.int64)
        pos = tbl.column("pos").to_numpy().astype(np.int64)
        dl = tbl.column("dl").to_numpy().astype(np.int64)
        salt = tbl.column("salt").to_numpy().astype(np.int64)
        n = doc.size
        order = np.lexsort((pos, doc, salt, codes))
        c_s, s_s, d_s = codes[order], salt[order], doc[order]
        p_s, dl_s = pos[order], dl[order]

        # (group, doc) runs — one per posting; groups at (term, salt) level
        new_run = np.empty(n, dtype=bool)
        new_run[0] = True
        new_run[1:] = ((d_s[1:] != d_s[:-1]) | (c_s[1:] != c_s[:-1])
                       | (s_s[1:] != s_s[:-1]))
        run_starts = np.flatnonzero(new_run)
        tf_r = np.diff(np.append(run_starts, n))
        d_r = d_s[run_starts]
        dl_r = dl_s[run_starts]
        c_r = c_s[run_starts]
        s_r = s_s[run_starts]
        nr = run_starts.size
        new_group = np.empty(nr, dtype=bool)
        new_group[0] = True
        new_group[1:] = (c_r[1:] != c_r[:-1]) | (s_r[1:] != s_r[:-1])
        g_id = np.cumsum(new_group) - 1
        g_starts = np.flatnonzero(new_group)
        idx_in_g = np.arange(nr) - g_starts[g_id]
        blk_new = new_group | (idx_in_g % block_size == 0)
        blk_starts = np.flatnonzero(blk_new)
        blk_ends = np.append(blk_starts[1:], nr)
        n_blocks = blk_starts.size
        n_docs = blk_ends - blk_starts

        # int64 arrays through numpy true_divide -> float64
        tfnorm = tf_r / (tf_r + k1 * (1.0 - b + b * dl_r / avgdl))

        doc_gaps_arr = codecs.encode_segments(
            codecs.restart_deltas(d_r, n_docs), n_docs)
        tfs_arr = codecs.encode_segments(tf_r, n_docs)
        if store_positions:
            pos_arr = codecs.encode_segments(
                codecs.restart_deltas(p_s, tf_r),
                np.add.reduceat(tf_r, blk_starts))
        else:
            pos_arr = pa.nulls(n_blocks, pa.binary())

        return pa.RecordBatch.from_arrays(
            [pa.array(np.full(n_blocks, field, dtype=object),
                      type=pa.string()),
             pc.take(dictionary, pa.array(c_r[blk_starts])),
             pa.array(d_r[blk_starts], type=pa.int64()),
             pa.array(d_r[blk_ends - 1], type=pa.int64()),
             pa.array(n_docs.astype(np.int32), type=pa.int32()),
             doc_gaps_arr, tfs_arr, pos_arr,
             pa.array(np.maximum.reduceat(tfnorm, blk_starts),
                      type=pa.float64()),
             # avgdl used for this block's score bound; if the corpus
             # avgdl later grows (incremental merges), the searcher's
             # window bound scales it by max(1, avgdl_now/bound_avgdl)
             # (provably safe — see searcher.IndexSearcher._windows)
             pa.array(np.full(n_blocks, avgdl), type=pa.float64())],
            names=["field", "term", "first_doc", "last_doc", "n_docs",
                   "doc_gaps", "tfs", "positions", "block_max_tfnorm",
                   "bound_avgdl"])

    def kernel(batches):
        carry = []
        for bt in batches:
            if not bt.num_rows:
                continue
            # rows of the batch's last (term, salt) group: a sorted suffix
            last = pc.and_(
                pc.equal(bt.column("term"), bt.column("term")[-1]),
                pc.equal(bt.column("salt"), bt.column("salt")[-1]))
            cut = bt.num_rows - pc.sum(last).as_py()
            if cut:
                yield encode(pa.Table.from_batches(
                    carry + [bt.slice(0, cut)]))
                carry = [bt.slice(cut)]
            else:
                carry.append(bt)
        if carry:
            yield encode(pa.Table.from_batches(carry))

    return kernel


def encode_partitions(spark: SparkSession, total_tokens: Optional[int],
                      docs_per_salt: int) -> int:
    """Partitions of one field's postings encode — the one token-total
    rule. A field whose token total is <= ``docs_per_salt`` provably has
    no hot term, so it needs no salting and is encoded (and, when every
    field is, written by :func:`postings_layout`) as ONE term-sorted
    partition. Otherwise the encode exchange
    is ``spark.sql.shuffle.partitions`` wide, the hashpartitioning(term,
    salt) a groupBy would plan. An unknown total counts as large."""
    if total_tokens is not None and total_tokens <= docs_per_salt:
        return 1
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def one_partition(spark: SparkSession, fields: Sequence[str],
                  totals_by_field: dict, docs_per_salt: int) -> bool:
    """Whether :func:`encode_partitions` gives every field ONE partition,
    so that each postings field, doc_stats and tombstones is one file."""
    return all(encode_partitions(spark, totals_by_field.get(f),
                                 docs_per_salt) == 1 for f in fields)


def postings_blocks(docs, fields, avgdl_by_field, ord_span,
                    tok_fn=None, block_size=BLOCK_SIZE,
                    docs_per_salt=1 << 17, store_positions=True,
                    totals_by_field=None):
    """The salted single-shuffle postings construction of every commit
    (:func:`_commit`). ``ord_span`` is the doc_ord range the
    input covers (used only for salt-range bucketing). Requires dl_<field>
    columns on ``docs``.

    Per field the plan is ``salted.repartition(parts, "term", "salt")
    .sortWithinPartitions("term", "salt").mapInArrow(kernel)`` with
    ``parts`` from :func:`encode_partitions` — the same exchange a
    groupBy(term, salt) plans, but the kernel encodes whole Arrow batches
    of complete groups instead of one Python call per group.
    Measured against the per-group pandas UDF kernel this replaced (three
    interleaved process pairs, two warm builds each, local[4] on a 4-core
    host), with byte-identical postings and lexicon:
    200-doc build 12.2-17.7 s -> 2.3-5.6 s (postings stage 10.7-14.7 s ->
    1.0-2.6 s); 800-doc salted build 18.6-27.2 s -> 4.5-8.8 s; 20k-doc
    build 28.4-36.5 s -> 15.6-21.8 s. A 100-doc merge onto 2000 docs,
    nine warm merges per side: median 3.65 s -> 3.87 s, inside the
    old side's spread (3.48-5.48 s), so unresolved.

    ``totals_by_field``: per-field total token counts when the caller has
    already aggregated them; a field whose TOTAL is <= docs_per_salt
    provably has no hot term, so the cf/hot-table pass is skipped."""
    spark = docs.sparkSession
    tok_fn = tok_fn or tokenize_col
    all_blocks = None
    for f_name in fields:
        # shuffle-byte diet: no constant field column (reattached in the
        # kernel), int32 for pos/dl (pos < dl < 2^31 always)
        toks = docs.select(
            "doc_ord",
            F.col(f"dl_{f_name}").cast("int").alias("dl"),
            F.posexplode(tok_fn(F.col(f_name))).alias("pos", "term"),
        ).withColumn("pos", F.col("pos").cast("int"))
        parts = encode_partitions(
            spark, (totals_by_field or {}).get(f_name), docs_per_salt)
        if parts == 1:
            # no term can be hot: skip the hot-table job (a full
            # tokenize+explode pass) outright — micro-batch merges save
            # one Spark job and one tokenize per batch (guide §2.4)
            salted = toks.withColumn("salt", F.lit(0))
        else:
            # adaptive salting keyed on COLLECTION frequency (cf >= df, so
            # this triggers at least as often as a df rule). The cf agg
            # combines map-side, so its shuffle is lexicon-sized, and the
            # hot table is provably small (<= total_tokens / docs_per_salt)
            # -> broadcast join, no shuffle.
            hot = (
                docs.select(F.explode(tok_fn(F.col(f_name))).alias("term"))
                .groupBy("term").count()
                .filter(F.col("count") > docs_per_salt)
                .withColumn("n_salts",
                            F.ceil(F.col("count") / docs_per_salt).cast("int"))
                .drop("count")
            )
            salted = (
                toks.join(F.broadcast(hot), ["term"], "left")
                .withColumn("n_salts", F.coalesce(F.col("n_salts"), F.lit(1)))
                .withColumn(
                    "salt",
                    F.floor(F.col("doc_ord") * F.col("n_salts")
                            / F.lit(ord_span)).cast("int"))
                .drop("n_salts")
            )
        enc = _postings_encoder(avgdl_by_field[f_name], block_size,
                                store_positions, field=f_name)
        blocks = (salted.repartition(parts, "term", "salt")
                  .sortWithinPartitions("term", "salt")
                  .mapInArrow(enc, POSTINGS_SCHEMA))
        all_blocks = (blocks if all_blocks is None
                      else all_blocks.unionByName(blocks))
    return all_blocks


def postings_layout(blocks: DataFrame, fields: Sequence[str],
                    totals_by_field: dict, docs_per_salt: int) -> DataFrame:
    """The one postings write rule of every commit (:func:`_commit`):
    lays ``blocks`` (from :func:`postings_blocks`)
    out for :func:`write_index_table`, term-sorted, so row-group min/max
    on term prunes lookups within a file and across files.

    When :func:`encode_partitions` gives every field ONE partition, the
    encode output already is one partition per field, sorted by (field,
    term, first_doc), and it is written as it is: one file per
    field, no boundary-sampling job, no range exchange. At the perfbench
    seed-1 corpus (200 docs) that writes postings of 231,238 bytes in one
    file instead of 279,828 in 8 (2,910 instead of 23,164 footer bytes).

    Otherwise (some field has more than ``docs_per_salt`` tokens, or an
    unknown total) the blocks are range-partitioned on (field, term) into
    ``max(defaultParallelism, 8)`` files, each sorted within by (field,
    term, first_doc): the encode's (term, salt) order, as a term's salts
    are disjoint doc_ord ranges in ascending order. That
    repartitionByRange runs a BOUNDARY-SAMPLING job over its child first,
    and the job recomputes the whole encode stage unless ``blocks`` is
    persisted (the shuffle map side is reused, the post-shuffle vbyte
    encode is not): measured 22.5 s vs 16.2 s on a warm 42k-doc 8-core
    build. With the blocks persisted the sample pass is the ONLY full
    computation — it materializes the cache (reservoir sampling touches
    every partition) — and the range+sort+write replays from the cache.
    :func:`_commit` persists ``blocks``; its lexicon aggregate reuses
    it."""
    spark = blocks.sparkSession
    if one_partition(spark, fields, totals_by_field, docs_per_salt):
        return blocks
    return (blocks.repartitionByRange(
        max(spark.sparkContext.defaultParallelism, 8), "field", "term")
        .sortWithinPartitions("field", "term", "first_doc"))


def lexicon_rows(blocks: DataFrame, one_file: bool) -> DataFrame:
    """The lexicon rows of ``blocks``, one (field, term, df) per term, for
    build and merge alike. ``IndexReader`` sums a term's df over the rows
    of several commits as this sums it over blocks. The files follow the
    postings rule (:func:`postings_layout`): ONE file when ``one_file``
    (:func:`one_partition`), else at most ``max(defaultParallelism, 8)``,
    not one per shuffle partition. Both coalesces are narrow: no job
    added."""
    lexicon = (blocks.groupBy("field", "term")
               .agg(F.sum("n_docs").cast("long").alias("df"))
               .coalesce(1 if one_file else max(
                   blocks.sparkSession.sparkContext.defaultParallelism, 8)))
    # no reader needs the order (IndexReader sorts at open); it stays as
    # zstd packs sorted terms smaller: the format-3 seed-1 perfbench
    # lexicon was 22,077 bytes sorted, 29,680 in hash order. No job.
    return lexicon.sortWithinPartitions("field", "term")


def doc_stats_columns(columns: Sequence[str], fields: Sequence[str]) -> list:
    """The doc_stats columns written for a corpus with ``columns``."""
    return ["doc_id", "doc_ord"] + [f"dl_{f}" for f in fields] + [
        c for c in ("repo", "path", "commit", "lang")
        if c in columns] + ["content_sha256"]


# session settings a build or merge switches off for its duration
_JOB_OFF = ("spark.sql.adaptive.enabled", "spark.sql.icu.caseMappings.enabled")


@contextmanager
def _job_scope(spark: SparkSession):
    """Session scope of one build or merge, restored however it ends.

    AQE's stage-at-a-time execution inserts a driver planning pause after
    every shuffle — measured ~50s of pure driver latency on a 100k-doc
    build. Builds and merges handle skew explicitly (salting) and choose
    partition counts statically, so AQE buys nothing: it is off inside
    the scope. So is ICU case mapping (``session.py`` says why), so that a
    build or merge on a session the engine did not make builds no ICU
    case-mapping table either. Both settings get their previous values
    back when the scope ends. Yields ``cache(df, level=None)``, which
    persists ``df`` and unpersists it when the scope ends, failed or
    not."""
    before = {k: spark.conf.get(k, "true") for k in _JOB_OFF}
    for k in _JOB_OFF:
        spark.conf.set(k, "false")
    cached = []

    def cache(df: DataFrame, level=None) -> DataFrame:
        cached.append(df.persist() if level is None else df.persist(level))
        return cached[-1]

    try:
        yield cache
    finally:
        for df in cached:
            df.unpersist()
        for k, v in before.items():
            spark.conf.set(k, v)


def build_index(
    corpus: DataFrame,
    out_dir: str,
    fields: Sequence[str] = ("content",),
    store_positions: bool = True,
    block_size: int = BLOCK_SIZE,
    docs_per_salt: int = 1 << 17,
    run_id: str = "run-0",
    resume: bool = False,
    analyzer: str = "standard",
) -> dict:
    """Build the full index at ``out_dir``; returns corpus-level stats.

    A build is the first commit (:func:`_commit`) of ``corpus``: its base
    is empty, with no files, no docs and ord_span 0. Into a directory that
    already holds an index it publishes the version after the latest one,
    listing only its own files and deleting none, so a reader of the
    previous version keeps answering. A repeated doc id raises ValueError.

    ``docs_per_salt`` bounds the largest single sort group: any term whose
    document frequency exceeds it is split into doc_ord-range salts. At a
    real 100 TB run keep the default (~131k postings per group ≈ a few MB);
    tests shrink it to force the salted path.

    ``analyzer``: "standard" (Lucene StandardAnalyzer contract — the
    oracle-parity default) or "code" (adds camelCase/snake_case sub-tokens
    for identifier search over source corpora; query terms are analyzed
    with the standard analyzer and match sub-tokens directly). Any other
    name raises ValueError.

    ``resume=True`` re-runs a crashed build of the same ``run_id``: the
    stages it recorded in ``_lineage`` are not run again, and the version
    lists the files they staged. A build of that run_id that already
    published writes nothing.
    """
    latest = snapshot.latest(out_dir)
    ledger = _Ledger(out_dir, run_id, resume)
    # published: its lexicon row, written after the publish, or the
    # latest manifest (a crash between the two) says so
    published = "lexicon" in ledger.staged or (
        latest is not None and latest["run_id"] == run_id)
    if not (resume and published):
        # Input-skew guard (guide §2.5: one big unsplittable file →
        # repartition immediately after the read): a small corpus parquet
        # is often a single row group, so every narrow map stage (sha256,
        # tokenize, explode) would run on ONE core. No-op when the scan is
        # already parallel.
        from lucille_spark.corpus import spread_small_input

        latest = _commit(
            add_doc_identity(spread_small_input(corpus)), out_dir,
            {"version": latest["version"] if latest else 0, "ord_span": 0,
             "files": {t: [] for t in snapshot.TABLES},
             "stats": {f: {"n_docs": 0, "total_terms": 0} for f in fields}},
            fields, ledger, analyzer=analyzer,
            store_positions=store_positions, block_size=block_size,
            docs_per_salt=docs_per_salt)
    stats = latest["stats"]
    return {"n_docs": stats[fields[0]]["n_docs"],
            "avgdl": {f: stats[f]["avgdl"] for f in fields},
            "fields": list(fields), "out_dir": out_dir}


def _commit(rows: DataFrame, index_dir: str, base: dict,
            fields: Sequence[str], ledger: "_Ledger", *, analyzer: str,
            store_positions: bool, block_size: int, docs_per_salt: int,
            tombstones: Optional[Callable[[DataFrame], DataFrame]] = None
            ) -> dict:
    """Commit ``rows`` (``add_doc_identity``'s columns, one row per
    doc_id) as the version after ``base`` and return its manifest: the one
    write path of :func:`build_index`, whose base is empty, and of
    ``merge.merge_index``, whose base is the latest version.

    Its stages, each recorded in ``_lineage`` with the files it staged:
    ``doc_stats`` (dl columns, ordinals above the base's ord_span),
    ``corpus_stats`` (the tombstones, then the live corpus stats),
    ``postings`` and ``lexicon``. ``tombstones`` maps the batch's doc_id
    frame to the base's docs it supersedes, as (doc_ord, dl_<field>...).
    Every table is appended through :func:`write_index_table`, and the
    manifest lists the base's files plus exactly the files this commit
    staged. The corpus stats are observed on the ordinal pass and the
    tombstone write, with no job of their own. A stage the ``ledger``
    already holds (a resumed build) is not run again: its recorded files
    are listed. The lexicon row is recorded once the version is
    published."""
    spark = rows.sparkSession
    tok_fn = tokenizer(analyzer)
    staged = ledger.staged
    resumed = set(staged)

    def append(stage, table, data):
        staged[stage] = [f"{table}/{name}" for name in
                         write_index_table(data, os.path.join(index_dir,
                                                              table))]

    def observed(df):
        """``df`` observing its row count and per-field token totals, and
        a getter of them that waits for the first job that runs it."""
        obs = Observation()

        def get():
            m = obs.get
            return int(m["n"]), {f: int(m[f"total_{f}"] or 0)
                                 for f in fields}
        return df.observe(obs, F.count(F.lit(1)).alias("n"), *[
            F.sum(f"dl_{f}").alias(f"total_{f}") for f in fields]), get

    with _job_scope(spark) as cache:
        # Cache discipline: persist ONLY narrow-ish data (source columns,
        # ids and lengths, never token arrays — caching 100s of tokens/doc
        # costs more than re-running the codegen'd lower+split). ident
        # materializes on the ordinal bucket-count pass, which observes the
        # batch's counts on the way; docs (with doc_ord attached)
        # materializes on the doc_stats write, so the ordinal window
        # shuffle runs exactly once.
        ident, added = observed(rows.withColumns({
            f"dl_{f}": F.size(tok_fn(F.col(f))).cast("long")
            for f in fields}))
        ident = cache(ident)
        # fresh ordinals above the base's. A global-window rank gives the
        # same ordinals for a small batch, but the SinglePartition exchange
        # it forces under the postings plan made a 100-doc postings write
        # 16-20 s against 3.2-3.6 s on this bucketed path.
        docs = cache(assign_doc_ord(ident, "doc_id").withColumn(
            "doc_ord", F.col("doc_ord") + F.lit(base["ord_span"])))
        n_added, totals = added()
        if not (n_added or base["ord_span"]):
            # a first commit of no docs would publish a version with no
            # lexicon or postings file, which no reader opens
            raise ValueError("build_index needs at least one document")
        # one doc_stats, tombstone and lexicon file for a small batch:
        # coalesce over the caches and the blocks is narrow, no job added
        small = one_partition(spark, fields, totals, docs_per_salt)

        def rows_of(df):
            return df.coalesce(1) if small else df

        # a commit of no docs (deletes only) stages no doc_stats, postings
        # or lexicon file, as it stages no empty tombstone file
        t_stage = time.time()
        if "doc_stats" not in resumed and n_added:
            append("doc_stats", "doc_stats", rows_of(docs.select(
                *doc_stats_columns(rows.columns, fields))))
            ledger.record("doc_stats", n_added, t_stage)
        # the docs cache is materialized now; ident is no longer needed
        ident.unpersist()

        t_stage = time.time()
        n_dead, dead = 0, dict.fromkeys(fields, 0)
        if tombstones is not None:
            gone, counted = observed(tombstones(docs.select("doc_id")))
            append("corpus_stats", "_tombstones",
                   rows_of(gone.select("doc_ord")))
            n_dead, dead = counted()
            if not n_dead:  # Spark writes one file even for no rows
                for path in staged.pop("corpus_stats"):
                    os.remove(os.path.join(index_dir, path))
        # live corpus stats: subtract tombstoned dls, add the batch's.
        # Exact integer sum / count: avgdl bit-identical at any parallelism
        stats = {}
        for f in fields:
            n = base["stats"][f]["n_docs"] - n_dead + n_added
            total = base["stats"][f]["total_terms"] - dead[f] + totals[f]
            stats[f] = {"n_docs": n, "avgdl": total / n if n else 0.0,
                        "total_terms": total}
        if "corpus_stats" not in resumed:
            ledger.record("corpus_stats", n, t_stage)

        # --- postings per field (ONE corpus-sized shuffle per field) ------
        ord_span = base["ord_span"] + n_added
        t_stage = time.time()
        if "postings" in resumed:
            blocks = spark.read.schema(POSTINGS_SCHEMA).parquet(*[
                os.path.join(index_dir, p) for p in staged["postings"]])
        elif n_added:
            # MEMORY_AND_DISK: at 100 TB the encoded blocks are index-sized
            # (a fraction of the corpus) and spill to executor disk — still
            # strictly cheaper than encoding twice. The lexicon aggregate
            # below reuses the cache, and so does the range route's
            # boundary-sampling job (see postings_layout).
            blocks = cache(postings_blocks(
                docs, fields, {f: stats[f]["avgdl"] for f in fields},
                ord_span, tok_fn=tok_fn, block_size=block_size,
                docs_per_salt=docs_per_salt, store_positions=store_positions,
                totals_by_field=totals), StorageLevel.MEMORY_AND_DISK)
            append("postings", "postings",
                   postings_layout(blocks, fields, totals, docs_per_salt))
            ledger.record("postings", -1, t_stage)

        t_stage = time.time()
        if n_added:
            append("lexicon", "lexicon", lexicon_rows(blocks, one_file=small))
        files = {t: list(base["files"][t]) for t in snapshot.TABLES}
        for path in chain.from_iterable(staged.values()):
            table, name = path.split("/")
            files[table].append(name)
        manifest = snapshot.publish(
            index_dir, base, run_id=ledger.run_id, ord_span=ord_span,
            analyzer=analyzer, stats=stats, files=files, added=n_added,
            tombstoned=n_dead)
        ledger.record("lexicon", n_added, t_stage)
        return manifest


# --- lineage / metrics / resume ---------------------------------------------
#
# Mirrors the reference's two checkpoint mechanisms: Kafka offset commits
# (core/Worker.java:188-197) and the FileConnector state DB
# (connector/FileConnectorStateManager.java:1-315). Granularity here is the
# STAGE (each stage's files are listed in its lineage row once written);
# WITHIN a stage, per-partition recovery is Spark's native task retry.
# ``resume=True`` + same run_id skips stages whose lineage row is complete,
# and the whole build once its manifest is published.


class _Ledger:
    """The ``_lineage`` table of one run: a row per stage of every commit,
    naming the files (``table/name``) the stage staged. It gains a file
    per row, so it is read only to resume a build: ``staged`` maps each
    stage of this run to its files, those recorded before plus those this
    run records."""

    def __init__(self, out_dir: str, run_id: str, resume: bool = False):
        self.run_id = run_id
        self.path = os.path.join(out_dir, "_lineage")
        rows = []
        if resume:
            try:  # driver-side pyarrow read of the tiny table, no Spark job
                rows = ds.dataset(self.path, ignore_prefixes=[".", "_"]) \
                    .to_table().to_pylist()
            except FileNotFoundError:
                pass  # first run on this index
        # a row without files was written before stages listed them
        self.staged = {r["stage"]: r["files"] for r in rows
                       if r["run_id"] == run_id
                       and r["status"] == "complete"
                       and r.get("files") is not None}

    def record(self, stage: str, n_rows: int, started: float) -> None:
        """Append the row of ``stage``, naming its ``staged`` files."""
        now = time.time()
        write_index_table(pa.table({
            "run_id": pa.array([self.run_id], pa.string()),
            "stage": pa.array([stage], pa.string()),
            "n_rows": pa.array([int(n_rows)], pa.int64()),
            "status": pa.array(["complete"], pa.string()),
            "started_at": pa.array([float(started)], pa.float64()),
            "finished_at": pa.array([float(now)], pa.float64()),
            "seconds": pa.array([now - started], pa.float64()),
            "files": pa.array([self.staged.get(stage, [])],
                              pa.list_(pa.string())),
        }), self.path)
