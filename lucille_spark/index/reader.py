"""Driver-side index reader: lexicon lookups + lazily-decoded block cursors.

Opens one index version, the latest manifest (``snapshot.load``), reads
each row group of the files it lists at most once, and answers every
lookup with a binary search and a slice — no scan predicate, no Spark
job — as Lucene's terms dictionary points into the postings (SURVEY.md
§2.9). The lexicon is read whole at open, a term's rows from several
commits folded into one as Lucene's ``termStatistics`` sums a term over
segments, and sorted by (field, term). A postings row group is read when
a lookup first needs it, picked by its footer min/max on field and term;
every postings file is sorted by (field, term)
(``builder.postings_layout``), so a term's blocks are a slice of it. A
doc_stats column loads on first use as one doc_ord-indexed array;
scoring gathers each posting's dl from :meth:`doc_lengths`.

Memory: a reader holds its lexicon, the row groups and the doc_stats
columns it used, decompressed, with their search keys as Python strings:
at most its version's data in that form. No merge deletes a data file
(``snapshot``), so it serves its version through any number of later
commits.
"""

from __future__ import annotations

import fnmatch
import math
import re
from functools import cached_property
from typing import Dict, List, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from lucille_spark import BM25_B, BM25_K1
from lucille_spark.index import codecs, snapshot

SENTINEL = 1 << 62
# how a term's lexicon rows fold: as builder.lexicon_rows folds blocks
_FOLD = {"df": "sum", "cf": "sum", "n_blocks": "sum", "max_tfnorm": "max",
         "bound_avgdl": "min"}


class _SortedRows:
    """A table sorted by (field, term), its two key columns held as
    arrays for binary search."""

    def __init__(self, table: pa.Table):
        self.table = table
        self.fields = table["field"].to_numpy(zero_copy_only=False)
        self.terms = table["term"].to_numpy(zero_copy_only=False)

    def span(self, field: str, lo: Optional[str] = None,
             hi: Optional[str] = None, include_lo: bool = True,
             include_hi: bool = True):
        """Rows [i, j) of ``field`` whose term lies between ``lo`` and
        ``hi`` (None: unbounded)."""
        a = int(np.searchsorted(self.fields, field, "left"))
        terms = self.terms[a:int(np.searchsorted(self.fields, field,
                                                 "right"))]
        i = a + (0 if lo is None else int(np.searchsorted(
            terms, lo, "left" if include_lo else "right")))
        j = a + (terms.size if hi is None else int(np.searchsorted(
            terms, hi, "right" if include_hi else "left")))
        return i, max(i, j)


def _admits(stats, value: str) -> bool:
    """Whether a row group whose column has ``stats`` may hold ``value``."""
    return (stats is None or not stats.has_min_max
            or stats.min <= value <= stats.max)


class IndexReader:
    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        # one version: the latest manifest and exactly the files it lists
        # (snapshot.py), so a concurrent merge's staged files stay unseen
        m = self.manifest = snapshot.load(index_dir)
        self.stats = m["stats"]
        # one threaded read of every file (no partition columns from the
        # path): a merge adds lexicon files, and a read per file is 3x
        # slower at 21 files
        rows = pq.read_table(self._files("lexicon"), partitioning=None)
        folded = rows.group_by(["field", "term"]).aggregate(
            list(_FOLD.items()))
        lexicon = pa.table(
            [folded[f"{c}_{_FOLD[c]}" if c in _FOLD else c]
             for c in rows.column_names], names=rows.column_names
        ).cast(rows.schema)
        self._lexicon = _SortedRows(lexicon.sort_by(
            [("field", "ascending"), ("term", "ascending")]))
        self._row_groups: Dict = {}
        self._doc_columns: Dict = {}
        self._fuzzy_stats: Dict = {}
        # deleted docs (incremental upserts/deletes): ordinals to exclude.
        # Stored as a SORTED int64 array, not a Python set: at 10^9 docs with
        # 1% deletes a set of ints is ~GBs; the array is 8B/entry and
        # membership is one searchsorted.
        self.tombstones = np.unique(np.concatenate([
            pq.read_table(p, columns=["doc_ord"])["doc_ord"].to_numpy()
            for p in self._files("_tombstones")] or [np.empty(0, np.int64)]))

    def _files(self, table: str) -> List[str]:
        return snapshot.paths(self.index_dir, self.manifest, table)

    # --- stats -----------------------------------------------------------
    def n_docs(self, field: str = "content") -> int:
        return int(self.stats[field]["n_docs"])

    def ord_span(self) -> int:
        """max doc_ord + 1 — the NOT-complement universe. This is NOT
        n_docs: after merges, live count < span (tombstoned ordinals)."""
        return int(self.manifest["ord_span"])

    def version(self) -> str:
        return str(self.manifest["version"])

    def has_tombstone(self, doc_ord: int) -> bool:
        t = self.tombstones
        if t.size == 0:
            return False
        i = int(np.searchsorted(t, doc_ord))
        return i < t.size and int(t[i]) == doc_ord

    def avgdl(self, field: str = "content") -> float:
        return float(self.stats[field]["avgdl"])

    def _doc_column(self, name: str, dtype=object) -> Optional[np.ndarray]:
        """doc_stats column ``name`` as a dense ``doc_ord -> value`` array
        over the ordinal span, read on first use. Ordinals without a row
        hold None, or 0 for a numeric ``dtype``; None when no file stores
        the column."""
        key = (name, dtype)
        if key not in self._doc_columns:
            parts = [pq.read_table(p, columns=["doc_ord", name])
                     for p in self._files("doc_stats")
                     if name in pq.read_schema(p).names]
            arr = None
            if parts:
                t = pa.concat_tables(parts)
                arr = np.full(self.ord_span(), None if dtype is object else 0,
                              dtype=dtype)
                arr[t["doc_ord"].to_numpy()] = t[name].to_numpy(
                    zero_copy_only=False)
            self._doc_columns[key] = arr
        return self._doc_columns[key]

    def doc_lengths(self, field: str = "content") -> np.ndarray:
        """Dense ``doc_ord -> dl`` of ``field`` over the ordinal span:
        int32, 4 bytes per ordinal (tombstoned ones included)."""
        return self._doc_column(f"dl_{field}", np.int32)

    # --- lexicon ------------------------------------------------------------
    def term_info(self, field: str, term: str) -> Optional[dict]:
        i, j = self._lexicon.span(field, term, term)
        return self._lexicon.table.slice(i, 1).to_pylist()[0] if j > i \
            else None

    def _prefix_span(self, field: str, prefix: str):
        """Lexicon rows of ``field`` whose term starts with ``prefix``:
        [prefix, prefix with its last character bumped), the seek of
        Lucene's TermsEnum."""
        if not prefix:
            return self._lexicon.span(field)
        return self._lexicon.span(field, prefix, prefix[:-1] + chr(
            ord(prefix[-1]) + 1), include_hi=False)

    def terms_with_prefix(self, field: str, prefix: str,
                          limit: int = 1024) -> List[str]:
        """Dictionary terms starting with ``prefix``, ascending, capped."""
        i, j = self._prefix_span(field, prefix)
        return self._lexicon.terms[i:min(j, i + limit)].tolist()

    def terms_in_range(self, field: str, lower: Optional[str],
                       upper: Optional[str], include_lower: bool = True,
                       include_upper: bool = True,
                       limit: int = 1024) -> List[str]:
        """Dictionary terms in the lexicographic range, ascending, capped
        — TermRangeQuery's expansion."""
        i, j = self._lexicon.span(field, lower, upper, include_lower,
                                  include_upper)
        return self._lexicon.terms[i:min(j, i + limit)].tolist()

    def terms_wildcard(self, field: str, pattern: str,
                       limit: int = 1024) -> List[str]:
        """Dictionary terms matching a `?`/`*` wildcard pattern,
        ascending, capped — WildcardQuery's expansion. The literal prefix
        before the first wildcard narrows the candidates to its terms;
        the residual match is one compiled regex over them. A LEADING
        wildcard tests the field's whole dictionary — Lucene documents
        the same cost."""
        k = min((pattern.index(c) for c in "*?" if c in pattern),
                default=len(pattern))
        i, j = self._prefix_span(field, pattern[:k])
        rx = re.compile(fnmatch.translate(pattern))
        return [t for t in self._lexicon.terms[i:j] if rx.match(t)][:limit]

    def terms_fuzzy(self, field: str, text: str, max_edits: int = 2,
                    limit: int = 50) -> List[str]:
        """Dictionary terms within ``max_edits`` Levenshtein of ``text``,
        closest-first (tie: term asc), capped — FuzzyQuery's top-terms
        selection (Lucene caps at 50 too; Lucene walks a Levenshtein
        automaton over the FST, the upgrade path for a 10^9-term vocab).

        The expansion is bounded in three sound stages, so the per-term
        Python DP runs on a tiny survivor set instead of the whole
        dictionary:
          1. length band |len(t) - len(q)| <= max_edits over the field's
             sorted terms (one vectorized utf8_length; nothing outside the
             band is materialized to Python);
          2. bag-distance lower bound (multiset character diff <= lev,
             Navarro 2001) computed as one NumPy 128-bin histogram matmul
             over the banded candidates;
          3. exact banded Levenshtein only on bag-distance survivors.
        ``_fuzzy_stats`` records (banded, bag_survivors) per call so tests
        can assert the DP touches a small fraction of the dictionary."""
        from lucille_spark.query.parser import levenshtein

        i, j = self._lexicon.span(field)
        lens = pc.utf8_length(
            self._lexicon.table["term"].slice(i, j - i)).to_numpy()
        terms = self._lexicon.terms[i:j][
            np.abs(lens - len(text)) <= max_edits].tolist()
        survivors = terms
        # byte-level bag distance is only a valid lower bound when the
        # QUERY is pure ASCII: a multi-byte query char inflates the query
        # histogram and could wrongly prune an ASCII term within the edit
        # bound (e.g. 'café'~1 vs dictionary 'cafe': char lev 1, byte bag
        # 2). Skip the prefilter entirely for non-ASCII queries and run
        # the banded DP on all length-band survivors.
        if terms and text.isascii():
            # bag distance: count chars into 128 ASCII bins (analyzer
            # alphabet is ASCII; anything else folds into bin 127), then
            # lev >= max(sum(pos diff), sum(neg diff)) per term
            qv = np.frombuffer(text.encode("utf-8", "replace"),
                               dtype=np.uint8)
            qh = np.bincount(np.minimum(qv, 127), minlength=128)
            enc = [s.encode("utf-8", "replace") for s in terms]
            lens = np.array([len(e) for e in enc], dtype=np.int64)
            arr = np.frombuffer(b"".join(enc), dtype=np.uint8)
            row = np.repeat(np.arange(len(terms)), lens)
            chars = np.minimum(arr, 127).astype(np.int64)
            hist = np.zeros((len(terms), 128), dtype=np.int64)
            np.add.at(hist, (row, chars), 1)
            diff = hist - qh[None, :]
            bag = np.maximum(np.where(diff > 0, diff, 0).sum(axis=1),
                             np.where(diff < 0, -diff, 0).sum(axis=1))
            # byte-level bag distance over-counts multi-byte chars in the
            # TERM direction too, so non-ASCII terms bypass the prefilter
            # (with the ASCII-query guard above, the bound is now
            # unconditionally sound)
            survivors = [s for s, b in zip(terms, bag)
                         if b <= max_edits or not s.isascii()]
        self._fuzzy_stats = {"banded": len(terms),
                             "bag_survivors": len(survivors)}
        scored = []
        for term in survivors:
            d = levenshtein(text, term, cap=max_edits)
            if d <= max_edits:
                scored.append((d, term))
        scored.sort()
        return [term for _, term in scored[:limit]]

    def idf(self, field: str, term: str) -> float:
        info = self.term_info(field, term)
        df = info["df"] if info else 0
        n = self.n_docs(field)
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    # --- postings ---------------------------------------------------------
    @cached_property
    def _postings(self):
        """The postings schema, and (path, row group, field stats, term
        stats) of every postings row group, from the file footers."""
        groups, schema = [], None
        for path in self._files("postings"):
            md = pq.read_metadata(path)
            schema = md.schema.to_arrow_schema()
            f, t = map(schema.get_field_index, ("field", "term"))
            groups += [(path, g, md.row_group(g).column(f).statistics,
                        md.row_group(g).column(t).statistics)
                       for g in range(md.num_row_groups)]
        return schema, groups

    def blocks(self, field: str, term: str) -> pa.Table:
        """All block rows for a term, ordered by first_doc: its slice of
        every postings row group whose footer min/max admit (field, term),
        each row group read once per reader."""
        schema, groups = self._postings
        parts = []
        for path, g, fstats, tstats in groups:
            if _admits(fstats, field) and _admits(tstats, term):
                rows = self._row_groups.get((path, g))
                if rows is None:
                    with pq.ParquetFile(path) as f:
                        rows = self._row_groups[path, g] = _SortedRows(
                            f.read_row_group(g))
                i, j = rows.span(field, term, term)
                parts.append(rows.table.slice(i, j - i))
        if not parts:
            return schema.empty_table()
        t = pa.concat_tables(parts)
        return t.take(pc.sort_indices(t["first_doc"]))

    def decode_term_flat(self, field: str, term: str, positions: bool = True):
        """(doc_ords, tfs, flat_positions, lens) — decoded with ONE vbyte
        pass per column: every payload format in this index is
        block-concatenable by construction (doc and position gap streams
        restart with an absolute value per block and per doc, undone by a
        grouped cumsum; tfs are self-delimiting and are the position
        counts), so a term's whole posting list decodes in ~4 NumPy calls
        regardless of block count."""
        b = self.blocks(field, term)
        empty = np.empty(0, dtype=np.uint64)
        if b.num_rows == 0:
            return empty, empty, empty, np.empty(0, np.int64)
        counts = b["n_docs"].to_numpy().astype(np.int64)
        gaps = codecs.vbyte_decode(b"".join(b["doc_gaps"].to_pylist()))
        abs_ = np.cumsum(gaps, dtype=np.uint64)
        starts = np.cumsum(counts) - counts
        corr = np.repeat(abs_[starts] - gaps[starts], counts)
        docs = abs_ - corr
        tfs = codecs.vbyte_decode(b"".join(b["tfs"].to_pylist()))
        flat, lens = empty, np.empty(0, np.int64)
        if positions and b["positions"].null_count == 0:
            flat, lens = codecs.decode_positions_flat(
                b"".join(b["positions"].to_pylist()), tfs)
        return docs, tfs, flat, lens

    def doc_values(self, field: str,
                   ords: np.ndarray) -> Optional[np.ndarray]:
        """Doc-values analogue (Lucene SortedDocValues): the stored
        single-valued field column for the given doc ords, POSITIONALLY
        aligned to them — always ``ords.size`` entries, with None at
        positions whose ord has no doc_stats row, so callers may
        zip(ords, vals) safely. Returns None when the field isn't stored
        (the caller falls back to postings)."""
        if ords.size == 0:
            return np.empty(0, dtype=object)
        col = self._doc_column(field)
        if col is None:
            return None
        out = np.full(ords.size, None, dtype=object)
        ok = ords < col.size
        out[ok] = col[ords[ok]]
        return out

    def doc_ids_for_ords(self, ords: List[int]) -> Dict[int, str]:
        ids = self._doc_column("doc_id")
        return {o: ids[o] for o in map(int, ords) if ids[o] is not None}


class TermCursor:
    """Block-at-a-time cursor with skipping: blocks are only decoded when the
    cursor actually lands in them (next_geq skips whole blocks via the
    first_doc/last_doc fences, the skip-list equivalent)."""

    def __init__(self, reader: IndexReader, field: str, term: str,
                 boost: float = 1.0):
        self.field, self.term = field, term
        # clause boost folds into idf: score(), max_score and the
        # block-max bounds all scale together, so WAND stays exact
        self.idf = reader.idf(field, term) * boost
        # df counts dead postings until a compaction, so after merges it
        # can pass the live N and turn idf negative: every contribution
        # is then below 0, which bounds them (idf * max_tfnorm would not)
        self._bound_idf = max(self.idf, 0.0)
        info = reader.term_info(field, term)
        self.df = info["df"] if info else 0
        self.avgdl = reader.avgdl(field)
        self._dl = reader.doc_lengths(field)
        # Score bounds were computed with the avgdl at encode time. If the
        # corpus avgdl has since GROWN (incremental merges with longer
        # docs), actual tfnorms can exceed stored bounds by at most
        # avgdl_now/avgdl_bound (mediant inequality on
        # tf/(tf + k1(1-b+b*dl/a))), so scale bounds up by that factor;
        # a shrunken avgdl only makes stored bounds looser (still valid).
        lex_scale = 1.0
        if info and info.get("bound_avgdl"):
            lex_scale = max(1.0, self.avgdl / float(info["bound_avgdl"]))
        self.max_score = (self._bound_idf * float(info["max_tfnorm"])
                          * lex_scale if info else 0.0)
        b = reader.blocks(field, term)
        self._nblocks = b.num_rows
        self._last = b["last_doc"].to_numpy()
        self._bmax = b["block_max_tfnorm"].to_numpy() * np.maximum(
            1.0, self.avgdl / b["bound_avgdl"].to_numpy())
        self._gaps = b["doc_gaps"].to_pylist()
        self._block_tfs = b["tfs"].to_pylist()
        self.bi = -1
        self.pos = 0
        self._docs = self._tfs = None
        self.doc = SENTINEL
        if self._nblocks:
            self._load(0)

    def _load(self, bi: int):
        self.bi = bi
        self._docs = codecs.decode_block_docs(self._gaps[bi]).astype(np.int64)
        self._tfs = codecs.vbyte_decode(self._block_tfs[bi]).astype(np.int64)
        self.pos = 0
        self.doc = int(self._docs[0])

    def next(self):
        if self.doc == SENTINEL:
            return SENTINEL
        self.pos += 1
        if self.pos < len(self._docs):
            self.doc = int(self._docs[self.pos])
        elif self.bi + 1 < self._nblocks:
            self._load(self.bi + 1)
        else:
            self.doc = SENTINEL
        return self.doc

    def next_geq(self, target: int):
        if self.doc >= target:
            return self.doc
        # skip whole blocks using fences (no decode)
        if self._last[self.bi] < target:
            nxt = int(np.searchsorted(self._last, target, side="left"))
            if nxt >= self._nblocks:
                self.doc = SENTINEL
                return SENTINEL
            self._load(nxt)
        # binary search within the (now decoded) block
        i = int(np.searchsorted(self._docs, target, side="left", sorter=None))
        if i >= len(self._docs):  # can't happen given fences, but be safe
            return self.next_geq(target + 1)
        self.pos = i
        self.doc = int(self._docs[i])
        return self.doc

    def score(self) -> float:
        tf = float(self._tfs[self.pos])
        dl = float(self._dl[self.doc])
        return self.idf * (tf / (tf + BM25_K1 * (1.0 - BM25_B
                                                 + BM25_B * dl / self.avgdl)))

    def block_max_score_at(self, target: int) -> float:
        """Upper bound on score for any doc >= current in the block covering
        target (shallow pointer move — metadata only, no decode)."""
        if self.doc == SENTINEL:
            return 0.0
        bi = self.bi
        if self._last[bi] < target:
            bi = int(np.searchsorted(self._last, target, side="left"))
            if bi >= self._nblocks:
                return 0.0
        return self._bound_idf * float(self._bmax[bi])

    def block_last_at(self, target: int) -> int:
        """last_doc fence of the block that covers/follows target."""
        bi = self.bi
        if self._last[bi] < target:
            bi = int(np.searchsorted(self._last, target, side="left"))
            if bi >= self._nblocks:
                return SENTINEL
        return int(self._last[bi])
