"""Driver-side index reader: lexicon lookups + lazily-decoded block cursors.

Opens one index version, the latest manifest (``snapshot.load``), and
reads exactly the parquet files it lists through pyarrow.dataset with
predicate pushdown (term-sorted layout → row-group pruning), so a
single-query lookup touches only the row groups holding the query's terms
— no Spark job, millisecond-scale latency. This is the moral equivalent of
Lucene's term dictionary + skip lists, which the reference gets by
delegating to Solr/ES (SURVEY.md §2.9). The corpus stats, ordinal span and
version come from the manifest; a concurrent merge's files stay unseen
until its manifest is published, and the reader keeps its own version.

Postings carry no doc lengths (index format 2): scoring gathers a
posting's dl from :meth:`IndexReader.doc_lengths`, one dense int32
``doc_ord -> dl`` array per field loaded from this version's doc_stats,
as Lucene scores with per-document norms.
"""

from __future__ import annotations

import math
import re
from typing import Dict, List, Optional

import numpy as np
import pyarrow.dataset as ds

from lucille_spark import BM25_B, BM25_K1
from lucille_spark.index import codecs, snapshot

SENTINEL = 1 << 62


class IndexReader:
    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        # one version: the latest manifest and exactly the files it lists
        # (snapshot.py), so a concurrent merge's staged files stay unseen
        m = self.manifest = snapshot.load(index_dir)

        def table(name):
            return ds.dataset(snapshot.paths(index_dir, m, name),
                              format="parquet")

        self._postings = table("postings")
        self._lexicon = table("lexicon")
        self._doc_stats = table("doc_stats")
        self.stats = m["stats"]
        self._term_cache: Dict = {}
        self._decode_cache: Dict = {}
        self._doc_lengths: Dict = {}
        self._fuzzy_stats: Dict = {}
        # deleted docs (incremental upserts/deletes): ordinals to exclude.
        # Stored as a SORTED int64 array, not a Python set: at 10^9 docs with
        # 1% deletes a set of ints is ~GBs; the array is 8B/entry and
        # membership is one searchsorted.
        arr = np.empty(0, dtype=np.int64)
        if m["files"]["_tombstones"]:
            t = table("_tombstones").to_table(columns=["doc_ord"])
            arr = np.unique(np.asarray(t["doc_ord"].to_pylist(),
                                       dtype=np.int64))
        self.tombstones = arr

    def _lex_table(self, flt, columns=None):
        """Lexicon read of this reader's version. Each commit replaces the
        lexicon files, and the version before the latest keeps its own;
        a reader two commits behind finds them gone."""
        try:
            return self._lexicon.to_table(filter=flt, columns=columns)
        except FileNotFoundError as e:
            raise snapshot.StaleVersionError(
                f"{self.index_dir}: version {self.version()} is two or more "
                "commits old and its lexicon files are gone; reopen the "
                "index") from e

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

    def doc_lengths(self, field: str = "content") -> np.ndarray:
        """Dense ``doc_ord -> dl`` of ``field`` over the ordinal span:
        int32, 4 bytes per ordinal (tombstoned ones included). Loaded on
        first use with one projected read of this version's doc_stats and
        a scatter; doc_stats files are append-only, so it stays valid for
        as long as the reader does."""
        arr = self._doc_lengths.get(field)
        if arr is None:
            t = self._doc_stats.to_table(columns=["doc_ord", f"dl_{field}"])
            arr = np.zeros(self.ord_span(), dtype=np.int32)
            arr[t["doc_ord"].to_numpy()] = t[f"dl_{field}"].to_numpy()
            self._doc_lengths[field] = arr
        return arr

    def term_info(self, field: str, term: str) -> Optional[dict]:
        key = (field, term)
        if key not in self._term_cache:
            t = self._lex_table(
                (ds.field("field") == field) & (ds.field("term") == term))
            rows = t.to_pylist()
            self._term_cache[key] = rows[0] if rows else None
        return self._term_cache[key]

    def terms_with_prefix(self, field: str, prefix: str,
                          limit: int = 1024) -> List[str]:
        """Dictionary terms starting with ``prefix``, ascending, capped.
        The lexicon is term-sorted parquet, so the range predicate
        [prefix, prefix+0x7F) prunes to the row groups covering the prefix
        — the skip-list seek of Lucene's TermsEnum (analyzer alphabet is
        ASCII, so 0x7F upper-bounds every continuation)."""
        t = self._lex_table(
            (ds.field("field") == field)
            & (ds.field("term") >= prefix)
            & (ds.field("term") < prefix + "\x7f"),
            columns=["term"])
        terms = sorted(x for x in t["term"].to_pylist()
                       if x.startswith(prefix))
        return terms[:limit]

    def terms_in_range(self, field: str, lower: Optional[str],
                       upper: Optional[str], include_lower: bool = True,
                       include_upper: bool = True,
                       limit: int = 1024) -> List[str]:
        """Dictionary terms in the lexicographic range, ascending, capped
        — TermRangeQuery's expansion. The bounds push straight into the
        Arrow scan over the term-sorted lexicon (row-group pruning), the
        same seek the prefix scan does."""
        f = ds.field("term")
        cond = ds.field("field") == field
        if lower is not None:
            cond = cond & (f >= lower if include_lower else f > lower)
        if upper is not None:
            cond = cond & (f <= upper if include_upper else f < upper)
        t = self._lex_table(cond, columns=["term"])
        return sorted(t["term"].to_pylist())[:limit]

    def terms_wildcard(self, field: str, pattern: str,
                       limit: int = 1024) -> List[str]:
        """Dictionary terms matching a `?`/`*` wildcard pattern,
        ascending, capped — WildcardQuery's expansion. The literal prefix
        before the first wildcard prunes the scan to its range (same
        seek as terms_with_prefix); the residual match is one compiled
        regex over the banded candidates. A LEADING wildcard scans the
        field's whole dictionary — Lucene documents the same cost."""
        import fnmatch

        i = min((pattern.index(c) for c in "*?" if c in pattern),
                default=len(pattern))
        prefix = pattern[:i]
        cond = ds.field("field") == field
        if prefix:
            cond = (cond & (ds.field("term") >= prefix)
                    & (ds.field("term") < prefix + "\x7f"))
        t = self._lex_table(cond, columns=["term"])
        rx = re.compile(fnmatch.translate(pattern))
        return sorted(x for x in t["term"].to_pylist()
                      if rx.match(x))[:limit]

    def terms_fuzzy(self, field: str, text: str, max_edits: int = 2,
                    limit: int = 50) -> List[str]:
        """Dictionary terms within ``max_edits`` Levenshtein of ``text``,
        closest-first (tie: term asc), capped — FuzzyQuery's top-terms
        selection (Lucene caps at 50 too; Lucene walks a Levenshtein
        automaton over the FST, the upgrade path for a 10^9-term vocab).

        The expansion is bounded in three sound stages, so the per-term
        Python DP runs on a tiny survivor set instead of the whole
        dictionary:
          1. length band |len(t) - len(q)| <= max_edits evaluated INSIDE
             the Arrow scan (utf8_length expression filter — vectorized
             C++, nothing outside the band is materialized to Python);
          2. bag-distance lower bound (multiset character diff <= lev,
             Navarro 2001) computed as one NumPy 128-bin histogram matmul
             over the banded candidates;
          3. exact banded Levenshtein only on bag-distance survivors.
        ``_fuzzy_stats`` records (banded, bag_survivors) per call so tests
        can assert the DP touches a small fraction of the dictionary."""
        import pyarrow.compute as pc

        from lucille_spark.query.parser import levenshtein

        qlen = len(text)
        t = self._lex_table(
            (ds.field("field") == field)
            & (pc.utf8_length(ds.field("term")) >= qlen - max_edits)
            & (pc.utf8_length(ds.field("term")) <= qlen + max_edits),
            columns=["term"])
        terms = t["term"].to_pylist()
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
    def blocks(self, field: str, term: str, columns: Optional[List[str]] = None):
        """All block rows for a term, ordered by first_doc (salt ranges are
        disjoint in doc_ord, so (salt, block_seq) order == first_doc order)."""
        cols = columns or ["salt", "block_seq", "first_doc", "last_doc",
                           "n_docs", "doc_gaps", "tfs", "positions",
                           "block_max_tf", "block_max_tfnorm", "bound_avgdl"]
        t = self._postings.to_table(
            filter=(ds.field("field") == field) & (ds.field("term") == term),
            columns=cols)
        pdf = t.to_pandas()
        return pdf.sort_values(["first_doc"]).reset_index(drop=True)

    def decode_term(self, field: str, term: str, positions: bool = False):
        """Full uncompressed postings: (doc_ords, tfs[, positions]). A
        posting's dl is ``doc_lengths(field)[doc_ord]``."""
        if positions:
            docs, tfs, flat, lens = self.decode_term_flat(field, term)
            return docs, tfs, np.split(flat, np.cumsum(lens)[:-1])
        docs, tfs, _, _ = self.decode_term_flat(field, term, positions=False)
        return docs, tfs

    def decode_term_flat(self, field: str, term: str, positions: bool = True):
        """(doc_ords, tfs, flat_positions, lens) — decoded with ONE vbyte
        pass per column: every payload format in this index is
        block-concatenable by construction (doc and position gap streams
        restart with an absolute value per block and per doc, undone by a
        grouped cumsum; tfs are self-delimiting and are the position
        counts), so a term's whole posting list decodes in ~4 NumPy calls
        regardless of block count."""
        key = (field, term, positions)
        if key in self._decode_cache:
            return self._decode_cache[key]
        pdf = self.blocks(field, term)
        empty = np.empty(0, dtype=np.uint64)
        if pdf.empty:
            out = (empty, empty, empty, np.empty(0, np.int64))
        else:
            counts = pdf["n_docs"].to_numpy(dtype=np.int64)
            gaps = codecs.vbyte_decode(b"".join(pdf["doc_gaps"]))
            abs_ = np.cumsum(gaps, dtype=np.uint64)
            starts = np.cumsum(counts) - counts
            corr = np.repeat(abs_[starts] - gaps[starts], counts)
            docs = abs_ - corr
            tfs = codecs.vbyte_decode(b"".join(pdf["tfs"]))
            if positions and pdf["positions"].iloc[0] is not None:
                flat, lens = codecs.decode_positions_flat(
                    b"".join(pdf["positions"]), tfs)
            else:
                flat, lens = empty, np.empty(0, np.int64)
            out = (docs, tfs, flat, lens)
        if len(self._decode_cache) > 16:
            self._decode_cache.clear()
        self._decode_cache[key] = out
        return out

    def doc_values(self, field: str,
                   ords: np.ndarray) -> Optional[np.ndarray]:
        """Doc-values analogue (Lucene SortedDocValues): the stored
        single-valued field column for the given SORTED doc ords,
        POSITIONALLY aligned to them — always ``ords.size`` entries,
        with None at positions whose ord has no doc_stats row, so
        callers may zip(ords, vals) safely. doc_stats is written in
        doc_ord order, so the range filter prunes to the row groups
        covering the match span — one projected sequential read of two
        columns, never a per-term posting decode. Returns None when the
        field isn't stored (the caller falls back to postings)."""
        if ords.size == 0:
            return np.empty(0, dtype=object)
        if field not in self._doc_stats.schema.names:
            return None
        lo, hi = int(ords[0]), int(ords[-1])
        t = self._doc_stats.to_table(
            filter=(ds.field("doc_ord") >= lo)
            & (ds.field("doc_ord") <= hi),
            columns=["doc_ord", field])
        do = np.asarray(t["doc_ord"].to_pylist(), dtype=np.int64)
        out = np.full(ords.size, None, dtype=object)
        if do.size == 0:
            return out
        order = np.argsort(do, kind="stable")
        do = do[order]
        vals = np.asarray(t[field].to_pylist(), dtype=object)[order]
        pos = np.searchsorted(do, ords)
        pos_c = np.minimum(pos, do.size - 1)
        ok = (pos < do.size) & (do[pos_c] == ords)
        out[ok] = vals[pos_c[ok]]
        return out

    def doc_ids_for_ords(self, ords: List[int]) -> Dict[int, str]:
        if not ords:
            return {}
        t = self._doc_stats.to_table(
            filter=ds.field("doc_ord").isin([int(o) for o in ords]),
            columns=["doc_ord", "doc_id"])
        return dict(zip(t["doc_ord"].to_pylist(), t["doc_id"].to_pylist()))


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
        self._blocks = reader.blocks(field, term)
        self._nblocks = len(self._blocks)
        self._first = self._blocks["first_doc"].to_numpy() if self._nblocks else np.empty(0)
        self._last = self._blocks["last_doc"].to_numpy() if self._nblocks else np.empty(0)
        if self._nblocks:
            bavg = self._blocks["bound_avgdl"].to_numpy()
            scale = np.maximum(1.0, self.avgdl / bavg)
            self._bmax = self._blocks["block_max_tfnorm"].to_numpy() * scale
        else:
            self._bmax = np.empty(0)
        self.bi = -1
        self.pos = 0
        self._docs = self._tfs = None
        self.doc = SENTINEL
        if self._nblocks:
            self._load(0)

    def _load(self, bi: int):
        self.bi = bi
        row = self._blocks.iloc[bi]
        self._docs = codecs.decode_block_docs(row["doc_gaps"]).astype(np.int64)
        self._tfs = codecs.vbyte_decode(row["tfs"]).astype(np.int64)
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
