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
       128-doc blocks: delta+varbyte doc gaps, varbyte tfs, optional
       varbyte position gaps, block_max_tfnorm
    -> postings write (postings_layout): as the encode left it when every
       field is one partition, else repartitionByRange(field, term)
       + sortWithinPartitions                            [small indexes:
                                                          no exchange]
    -> lexicon = lexicon_rows(blocks): df per (field,term)  [tiny shuffle]

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
  _lineage/      per-stage build provenance (checkpoint/resume)
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
and a block only what the decoder and the block-max windows read.
"""

from __future__ import annotations

import os
import time
import uuid
from contextlib import contextmanager
from typing import Optional, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucille_spark import BLOCK_SIZE, BM25_B, BM25_K1
from lucille_spark.analysis import tokenize_col
from lucille_spark.analysis.analyzers import tokenizer
from lucille_spark.index import codecs, snapshot
from lucille_spark.index.ordinals import assign_doc_ord

POSTINGS_SCHEMA = (
    "field string, term string, salt int, block_seq int, first_doc long, "
    "last_doc long, n_docs int, doc_gaps binary, tfs binary, "
    "positions binary, block_max_tfnorm double, bound_avgdl double"
)


# postings payload columns: opaque varbyte streams that nothing prunes on,
# so min/max and size statistics on them would be dead footer bytes
PAYLOAD_COLUMNS = ("doc_gaps", "tfs", "positions")


def write_index_table(data, path: str, mode: str = "overwrite") -> list:
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

    Returns the names of the data files the write added, from a listing
    of ``path`` before and after it: what a commit lists for the table
    (:mod:`snapshot`)."""
    before = snapshot.data_files(path)
    if not isinstance(data, pa.Table):
        w = (data.write.mode(mode).option("compression", "zstd")
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


def _binary_from_segments(data, offsets):
    """pyarrow binary array over contiguous byte segments WITHOUT a per-row
    Python loop (guide §4.2: re-slice one data buffer by computing a new
    offsets array). ``offsets`` is int64 of len n+1 into ``data``; binary
    offsets are int32, so a batch whose payload reaches 2 GiB fails loudly
    instead of wrapping."""
    if offsets[-1] >= 1 << 31:
        raise OverflowError(
            f"binary payload of {int(offsets[-1])} bytes exceeds the int32 "
            "offsets of one Arrow batch")
    off32 = offsets.astype(np.int32)
    return pa.Array.from_buffers(
        pa.binary(), off32.size - 1,
        [None, pa.py_buffer(np.ascontiguousarray(off32)),
         pa.py_buffer(np.ascontiguousarray(data))])


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
    reduceat block aggregates plus ONE batch vbyte encode per payload
    column, sliced per block (codecs.vbyte is per-value independent, so
    segment slicing equals per-block encoding), give the 128-doc blocks:
    delta+varbyte doc gaps, varbyte tfs, optional varbyte position gaps,
    block_max_tfnorm. ``dl`` enters only the tfnorm bounds: the reader
    takes a posting's dl from doc_stats. No Python call per group."""
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
        blk_gid = g_id[blk_starts]
        first_blk_of_g = np.flatnonzero(new_group[blk_starts])
        block_seq = np.arange(n_blocks) - first_blk_of_g[blk_gid]

        # int64 arrays through numpy true_divide -> float64
        tfnorm = tf_r / (tf_r + k1 * (1.0 - b + b * dl_r / avgdl))

        du = d_r.astype(np.uint64)
        gaps = np.empty(nr, dtype=np.uint64)
        gaps[0] = du[0]
        np.subtract(du[1:], du[:-1], out=gaps[1:])
        gaps[blk_starts] = du[blk_starts]  # absolute restart per block

        def vb_blocks(vals, starts):
            data = np.frombuffer(codecs.vbyte_encode(vals), dtype=np.uint8)
            byte_off = np.concatenate(
                ([0], np.cumsum(codecs.vbyte_nbytes(vals))))
            return _binary_from_segments(
                data, np.append(byte_off[starts], data.size))

        doc_gaps_arr = vb_blocks(gaps, blk_starts)
        tfs_arr = vb_blocks(tf_r.astype(np.uint64), blk_starts)

        if store_positions:
            # block positions stream = delta-positions per doc run, vbyte
            # (codecs.encode_positions_flat) — one encode for the whole
            # batch, sliced at each block's first occurrence
            pu = p_s.astype(np.uint64)
            deltas = np.empty(n, dtype=np.uint64)
            deltas[0] = pu[0]
            np.subtract(pu[1:], pu[:-1], out=deltas[1:])
            deltas[run_starts] = pu[run_starts]  # absolute per doc run
            pos_arr = vb_blocks(deltas, run_starts[blk_starts])
        else:
            pos_arr = pa.nulls(n_blocks, pa.binary())

        return pa.RecordBatch.from_arrays(
            [pa.array(np.full(n_blocks, field, dtype=object),
                      type=pa.string()),
             pc.take(dictionary, pa.array(c_r[blk_starts])),
             pa.array(s_r[blk_starts].astype(np.int32), type=pa.int32()),
             pa.array(block_seq.astype(np.int32), type=pa.int32()),
             pa.array(d_r[blk_starts], type=pa.int64()),
             pa.array(d_r[blk_ends - 1], type=pa.int64()),
             pa.array((blk_ends - blk_starts).astype(np.int32),
                      type=pa.int32()),
             doc_gaps_arr, tfs_arr, pos_arr,
             pa.array(np.maximum.reduceat(tfnorm, blk_starts),
                      type=pa.float64()),
             # avgdl used for this block's score bound; if the corpus
             # avgdl later grows (incremental merges), the searcher's
             # window bound scales it by max(1, avgdl_now/bound_avgdl)
             # (provably safe — see searcher.IndexSearcher._windows)
             pa.array(np.full(n_blocks, avgdl), type=pa.float64())],
            names=["field", "term", "salt", "block_seq", "first_doc",
                   "last_doc", "n_docs", "doc_gaps", "tfs", "positions",
                   "block_max_tfnorm", "bound_avgdl"])

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
    """The salted single-shuffle postings construction (shared by the full
    build and the incremental merge). ``ord_span`` is the doc_ord range the
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
    """The one postings write rule, shared by :func:`build_index` and
    ``merge.merge_index``: lays ``blocks`` (from :func:`postings_blocks`)
    out for :func:`write_index_table`, term-sorted, so row-group min/max
    on term prunes lookups within a file and across files.

    When :func:`encode_partitions` gives every field ONE partition, the
    encode output already is one partition per field, sorted by (field,
    term, salt, block_seq), and it is written as it is: one file per
    field, no boundary-sampling job, no range exchange. At the perfbench
    seed-1 corpus (200 docs) that writes postings of 231,238 bytes in one
    file instead of 279,828 in 8 (2,910 instead of 23,164 footer bytes).

    Otherwise (some field has more than ``docs_per_salt`` tokens, or an
    unknown total) the blocks are range-partitioned on (field, term) into
    ``max(defaultParallelism, 8)`` files, each sorted within. That
    repartitionByRange runs a BOUNDARY-SAMPLING job over its child first,
    and the job recomputes the whole encode stage unless ``blocks`` is
    persisted (the shuffle map side is reused, the post-shuffle vbyte
    encode is not): measured 22.5 s vs 16.2 s on a warm 42k-doc 8-core
    build. With the blocks persisted the sample pass is the ONLY full
    computation — it materializes the cache (reservoir sampling touches
    every partition) — and the range+sort+write replays from the cache.
    Both callers persist ``blocks``; their lexicon aggregates reuse it."""
    spark = blocks.sparkSession
    if one_partition(spark, fields, totals_by_field, docs_per_salt):
        return blocks
    return (blocks.repartitionByRange(
        max(spark.sparkContext.defaultParallelism, 8), "field", "term")
        .sortWithinPartitions("field", "term", "salt", "block_seq"))


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

    ``docs_per_salt`` bounds the largest single sort group: any term whose
    document frequency exceeds it is split into doc_ord-range salts. At a
    real 100 TB run keep the default (~131k postings per group ≈ a few MB);
    tests shrink it to force the salted path.

    ``analyzer``: "standard" (Lucene StandardAnalyzer contract — the
    oracle-parity default) or "code" (adds camelCase/snake_case sub-tokens
    for identifier search over source corpora; query terms are analyzed
    with the standard analyzer and match sub-tokens directly). Any other
    name raises ValueError.
    """
    spark = corpus.sparkSession
    tok_fn = tokenizer(analyzer)
    ledger = _Ledger(out_dir, run_id)
    if resume and ledger.done("lexicon"):  # recorded once published
        stats = snapshot.load(out_dir)["stats"]
        return {"n_docs": stats[fields[0]]["n_docs"],
                "avgdl": {f: stats[f]["avgdl"] for f in fields},
                "fields": list(fields), "out_dir": out_dir}

    with _job_scope(spark) as cache:
        # Input-skew guard (guide §2.5: one big unsplittable file →
        # repartition immediately after the read): a small corpus parquet is
        # often a single row group, so every narrow map stage (sha256,
        # tokenize, explode) would run on ONE core. No-op when the scan is
        # already parallel.
        from lucille_spark.corpus import spread_small_input

        corpus = spread_small_input(corpus)

        # Cache discipline: persist ONLY narrow-ish data (source columns +
        # ids, never token arrays — caching 100s of tokens/doc costs more
        # than re-running the codegen'd lower+split). ident materializes on
        # the ordinal bucket-count pass; docs (with doc_ord attached)
        # materializes on the doc_stats write, so the ordinal window shuffle
        # runs exactly once.
        ident = cache(add_doc_identity(corpus))
        docs = assign_doc_ord(ident, "doc_id")
        for f_name in fields:
            docs = docs.withColumn(
                f"dl_{f_name}", F.size(tok_fn(F.col(f_name))).cast("long"))
        docs = cache(docs)

        # --- doc_stats + corpus stats ------------------------------------
        stat_cols = doc_stats_columns(corpus.columns, fields)
        t_stage = time.time()
        obs = None
        if not (resume and ledger.done("doc_stats")):
            # the corpus stats (N + per-field token sums) ride the doc_stats
            # write job as observed metrics — one full pass over the docs
            # cache instead of two (guide §1.2: fewer passes). Exact integer
            # count/sum, so the values equal the old separate agg.
            from pyspark.sql import Observation

            obs = Observation()
            write_index_table(
                docs.observe(obs, F.count(F.lit(1)).alias("n"),
                             *[F.sum(f"dl_{f}").alias(f"total_{f}")
                               for f in fields]).select(*stat_cols),
                os.path.join(out_dir, "doc_stats"))
            ledger.record("doc_stats", -1, t_stage)
        # the docs cache is materialized now; ident is no longer needed
        ident.unpersist()

        t_stage = time.time()
        # metrics observed during the doc_stats write; the separate agg job
        # runs only on the resume path that skipped that write
        agg = obs.get if obs is not None else docs.agg(
            F.count("*").alias("n"),
            *[F.sum(f"dl_{f}").alias(f"total_{f}")
              for f in fields]).collect()[0]
        n_docs = int(agg["n"])
        totals = {f: int(agg[f"total_{f}"] or 0) for f in fields}
        # exact integer sum / count: avgdl bit-identical at any parallelism
        avgdl_by_field = {f: totals[f] / n_docs if n_docs else 0.0
                          for f in fields}
        if not (resume and ledger.done("corpus_stats")):
            ledger.record("corpus_stats", n_docs, t_stage)

        # --- postings per field (ONE corpus-sized shuffle per field) ------
        t_stage = time.time()
        skip_postings = resume and ledger.done("postings")
        all_blocks = None if skip_postings else postings_blocks(
            docs, fields, avgdl_by_field, n_docs, tok_fn=tok_fn,
            block_size=block_size, docs_per_salt=docs_per_salt,
            store_positions=store_positions, totals_by_field=totals)

        if not skip_postings:
            # MEMORY_AND_DISK: at 100 TB the encoded blocks are index-sized
            # (a fraction of the corpus) and spill to executor disk — still
            # strictly cheaper than encoding twice. The lexicon aggregate
            # below reuses the cache, and so does the range route's
            # boundary-sampling job (see postings_layout).
            from pyspark import StorageLevel

            all_blocks = cache(all_blocks, StorageLevel.MEMORY_AND_DISK)
            write_index_table(
                postings_layout(all_blocks, fields, totals, docs_per_salt),
                os.path.join(out_dir, "postings"))
            ledger.record("postings", -1, t_stage)
        lexicon = lexicon_rows(
            all_blocks if not skip_postings else
            spark.read.parquet(os.path.join(out_dir, "postings")),
            one_partition(spark, fields, totals, docs_per_salt))
        t_stage = time.time()
        write_index_table(lexicon, os.path.join(out_dir, "lexicon"))

        # the commit: every table was overwritten (or, resumed, written by
        # this run), so its directory holds exactly this version's files.
        # A build over an existing index publishes the version after it.
        snapshot.publish(
            out_dir, snapshot.latest(out_dir), run_id=run_id, ord_span=n_docs,
            analyzer=analyzer,
            stats={f: {"n_docs": n_docs, "avgdl": avgdl_by_field[f],
                       "total_terms": totals[f]} for f in fields},
            files={t: snapshot.data_files(os.path.join(out_dir, t))
                   for t in ("postings", "lexicon", "doc_stats")},
            added=n_docs, tombstoned=0)
        ledger.record("lexicon", n_docs, t_stage)
        return {"n_docs": n_docs, "avgdl": avgdl_by_field,
                "fields": list(fields), "out_dir": out_dir}


# --- lineage / metrics / resume ---------------------------------------------
#
# Mirrors the reference's two checkpoint mechanisms: Kafka offset commits
# (core/Worker.java:188-197) and the FileConnector state DB
# (connector/FileConnectorStateManager.java:1-315). Granularity here is the
# STAGE (each stage's parquet overwrite is atomic via the commit protocol);
# WITHIN a stage, per-partition recovery is Spark's native task retry.
# ``resume=True`` + same run_id skips stages whose lineage row is complete,
# and the whole build once its manifest is published.


class _Ledger:
    """The ``_lineage`` table of one run. It gains a file per recorded
    stage of every commit, so it is read only when :meth:`done` asks."""

    def __init__(self, out_dir: str, run_id: str):
        self.run_id = run_id
        self.path = os.path.join(out_dir, "_lineage")
        self.done_stages = None

    def done(self, stage: str) -> bool:
        if self.done_stages is None:
            try:  # driver-side pyarrow read of the tiny table, no Spark job
                rows = ds.dataset(self.path, ignore_prefixes=[".", "_"]) \
                    .to_table().to_pylist()
            except FileNotFoundError:
                rows = []  # first run on this index
            self.done_stages = {r["stage"] for r in rows
                                if r["run_id"] == self.run_id
                                and r["status"] == "complete"}
        return stage in self.done_stages

    def record(self, stage: str, n_rows: int, started: float) -> None:
        now = time.time()
        write_index_table(pa.table({
            "run_id": pa.array([self.run_id], pa.string()),
            "stage": pa.array([stage], pa.string()),
            "n_rows": pa.array([int(n_rows)], pa.int64()),
            "status": pa.array(["complete"], pa.string()),
            "started_at": pa.array([float(started)], pa.float64()),
            "finished_at": pa.array([float(now)], pa.float64()),
            "seconds": pa.array([now - started], pa.float64()),
        }), self.path, mode="append")
        if self.done_stages is not None:
            self.done_stages.add(stage)

