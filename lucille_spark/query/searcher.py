"""Driver-side ranked retrieval over the compressed index.

One exact evaluator, rank-identical to the exhaustive NumPy oracle
(tie-break: score desc, doc_id asc — and doc_ord order IS doc_id order by
construction, see ordinals.py): boolean-filter the candidates over lazy-
complement doc sets, then score them vectorized, a handful of NumPy passes
per query term. A query with more postings than one window holds is
scored in windows of the ordinal span cut at block boundaries, with a
running top-k; a window whose block-max bound (Ding & Suel, SIGIR'11)
cannot beat the k-th score is skipped without decoding a block.

The reference delegates all of this to Lucene inside Solr/ES/OpenSearch
(SURVEY.md §2.9); the query grammar contract is MatchQuery.java:85-92.
"""

from __future__ import annotations

import math
from typing import Dict, List, Optional, Tuple

import numpy as np

from lucille_spark import BM25_B, BM25_K1
from lucille_spark.index.reader import IndexReader
from lucille_spark.query.parser import (
    And, MatchAll, Must, Not, Or, Phrase, Term, expand_prefixes, parse,
    positive_terms,
)

# postings of one scoring window (see search()): a query whose terms hold
# at most this many is one pass over the whole ordinal span; a larger one
# is cut into windows of about this many. ~4M postings decode and score
# in well under 100 ms, and bound the arrays a query holds at once.
VEC_POSTINGS_MAX = 1 << 22


class DocSet:
    """Sorted-array doc set with a LAZY complement: ``neg=True`` means
    "every ordinal in [0, span) except ``arr``". Boolean algebra on these
    never materializes the universe — ``a AND NOT b`` is one setdiff of two
    posting arrays — so negation costs O(|postings|), not O(n_docs). Only a
    TOP-LEVEL pure negation (whose result genuinely is corpus-sized)
    materializes the complement, in :meth:`materialize`."""

    __slots__ = ("arr", "neg")

    def __init__(self, arr: np.ndarray, neg: bool = False):
        self.arr = arr.astype(np.int64, copy=False)
        self.neg = neg

    @staticmethod
    def empty() -> "DocSet":
        return DocSet(np.empty(0, dtype=np.int64))

    def __invert__(self) -> "DocSet":
        return DocSet(self.arr, not self.neg)

    def __and__(self, o: "DocSet") -> "DocSet":
        if not self.neg and not o.neg:
            return DocSet(np.intersect1d(self.arr, o.arr,
                                         assume_unique=True))
        if not self.neg and o.neg:   # pos ∧ ¬neg = setdiff
            return DocSet(np.setdiff1d(self.arr, o.arr, assume_unique=True))
        if self.neg and not o.neg:
            return o & self
        # ¬a ∧ ¬b = ¬(a ∪ b)
        return DocSet(np.union1d(self.arr, o.arr), True)

    def __or__(self, o: "DocSet") -> "DocSet":
        if not self.neg and not o.neg:
            return DocSet(np.union1d(self.arr, o.arr))
        if not self.neg and o.neg:   # pos ∨ ¬neg = ¬(neg \ pos)
            return DocSet(np.setdiff1d(o.arr, self.arr, assume_unique=True),
                          True)
        if self.neg and not o.neg:
            return o | self
        # ¬a ∨ ¬b = ¬(a ∩ b)
        return DocSet(np.intersect1d(self.arr, o.arr, assume_unique=True),
                      True)

    def materialize(self, hi: int, tombstones: Optional[np.ndarray] = None,
                    lo: int = 0) -> np.ndarray:
        """Concrete sorted ordinal array over the window [lo, hi) (the
        ordinal span when ``hi`` is the span and ``lo`` 0), minus
        tombstones. Allocates O(hi - lo) ONLY for negated (pure-NOT)
        sets."""
        if self.neg:
            drop = self.arr
            if tombstones is not None and tombstones.size:
                drop = np.union1d(drop, tombstones)
            mask = np.ones(hi - lo, dtype=bool)
            mask[drop[(drop >= lo) & (drop < hi)] - lo] = False
            return np.flatnonzero(mask).astype(np.int64) + lo
        out = self.arr[np.searchsorted(self.arr, lo):
                       np.searchsorted(self.arr, hi)]
        if tombstones is not None and tombstones.size:
            out = np.setdiff1d(out, tombstones, assume_unique=True)
        return out


class _Window:
    """The ordinals [lo, hi) one evaluation matches and scores, and what
    it decodes there: by default the whole span, from each term's blocks
    as the reader holds them; a window of :meth:`IndexSearcher._windows`
    holds, per term, the run of its blocks that overlaps it, and the
    window's score ``bound``. Each term decodes at most once per window:
    a decode with positions also serves one without."""

    __slots__ = ("reader", "lo", "hi", "blocks", "bound", "_decoded")

    def __init__(self, reader: IndexReader, lo: int = 0,
                 hi: Optional[int] = None, blocks: Optional[dict] = None,
                 bound: float = 0.0):
        self.reader = reader
        self.lo = lo
        self.hi = reader.ord_span() if hi is None else hi
        self.blocks = blocks
        self.bound = bound
        self._decoded = {}

    def decode(self, field: str, term: str, positions: bool = False):
        hit = self._decoded.get((field, term))
        if hit is None or (positions and not hit[0]):
            out = self.reader.decode_term_flat(
                field, term, positions,
                None if self.blocks is None else self.blocks[field, term])
            hit = self._decoded[field, term] = (positions, out)
        return hit[1]


class IndexSearcher:
    def __init__(self, index_dir: str, default_field: str = "content"):
        self.reader = IndexReader(index_dir)
        self.default_field = default_field
        # deleted/superseded docs from incremental merges — excluded
        # everywhere below (compaction folds them away; see index/merge.py).
        # SORTED int64 array (searchsorted membership), not a Python set.
        self.tombstones = self.reader.tombstones

    def _parse(self, query: str):
        """Parse + rewrite multi-term nodes (Prefix/Fuzzy/Wildcard/
        TermRange) against the lexicon (scoring boolean rewrite; prefix,
        range and wildcard-with-literal-prefix seeks are slices of the
        sorted lexicon, fuzzy a banded closest-first scan)."""
        node = parse(query, self.default_field)
        return expand_prefixes(node, self.reader.terms_with_prefix,
                               fuzzy_expander=self.reader.terms_fuzzy,
                               wildcard_expander=self.reader.terms_wildcard,
                               range_expander=self.reader.terms_in_range)

    # ------------------------------------------------------------------ API
    def search(self, query: str, k: int = 10) -> List[Tuple[str, float]]:
        """BM25 top-k [(doc_id, score)], exactly :meth:`search_exhaustive`'s.

        A query whose terms' postings (lexicon df, negated and phrase terms
        included) total at most ``VEC_POSTINGS_MAX`` is one window: the
        whole ordinal span, decoded and scored in one vectorized pass. A
        larger query runs :meth:`_windows` in ascending ordinal order,
        keeping a running top-k. Once k hits are held, a window whose
        bound is at or below the k-th score is skipped undecoded: the
        bound sums each term's bound in the order the scores sum, so it
        stays at or above any score in the window in float arithmetic, and
        the window's ordinals lose every tie to the hits held."""
        node = self._parse(query)
        terms = _leaf_terms(node)
        if sum(i["df"] for i in (self.reader.term_info(*t) for t in terms)
               if i) <= VEC_POSTINGS_MAX:
            return self._resolve(self._score_candidates(node, k))
        top: List[Tuple[int, float]] = []
        for win in self._windows(node, terms):
            if len(top) == k and win.bound <= top[-1][1]:
                continue
            top = sorted(top + self._score_candidates(node, k, win),
                         key=lambda h: (-h[1], h[0]))[:k]
        return self._resolve(top)

    def _windows(self, node, terms):
        """The windows of the ordinal span, ascending, cut at the terms'
        block first_doc values so that each window's blocks start on about
        ``VEC_POSTINGS_MAX`` postings (a window also decodes the one block
        per term that crosses its start). Each term's blocks are read once:
        they cover disjoint ascending ranges (``IndexReader.blocks``), so
        the ones overlapping a window are one run of them, found by two
        searchsorted. A window's ``bound`` sums, over the positive terms in
        scoring order, max(idf * boost, 0) times the largest block bound in
        the term's run; a block bound is its block_max_tfnorm scaled by
        max(1, avgdl / bound_avgdl), which covers an avgdl grown since the
        block was encoded. Negative idf is bounded by 0."""
        blocks = {t: self.reader.blocks(*t) for t in terms}
        first = np.concatenate([b["first_doc"].to_numpy()
                                for b in blocks.values()])
        n = np.concatenate([b["n_docs"].to_numpy()
                            for b in blocks.values()]).astype(np.int64)
        order = np.argsort(first, kind="stable")
        first, n = first[order], n[order]
        part = (np.cumsum(n) - n) // VEC_POSTINGS_MAX
        edges = np.unique(np.concatenate(
            [[0], first[1:][np.diff(part) > 0], [self.reader.ord_span()]]))
        lo, hi = edges[:-1], edges[1:]
        runs = {t: (np.searchsorted(b["last_doc"].to_numpy(), lo),
                    np.searchsorted(b["first_doc"].to_numpy(), hi))
                for t, b in blocks.items()}
        bound = np.zeros(lo.size)
        for t in positive_terms(node):
            b = blocks[t.field, t.text]
            bmax = b["block_max_tfnorm"].to_numpy() * np.maximum(
                1.0, self.reader.avgdl(t.field) / b["bound_avgdl"].to_numpy())
            peak = np.array([bmax[i:j].max(initial=0.0)
                             for i, j in zip(*runs[t.field, t.text])])
            bound += max(self.reader.idf(t.field, t.text) * t.boost,
                         0.0) * peak
        for w in range(lo.size):
            yield _Window(self.reader, int(lo[w]), int(hi[w]),
                          {t: b.slice(runs[t][0][w],
                                      runs[t][1][w] - runs[t][0][w])
                           for t, b in blocks.items()}, float(bound[w]))

    def search_exhaustive(self, query: str, k: int = 10) -> List[Tuple[str, float]]:
        """Decode-everything reference path: one window, no skipping
        (the cross-check for :meth:`search`)."""
        node = self._parse(query)
        return self._resolve(self._score_candidates(node, k))

    def facet(self, query: str, facet_field: str,
              size: int = 10) -> List[Tuple[str, int]]:
        """Solr-style field facet over the query's boolean matches:
        [(term, count)] sorted by count desc then term asc, capped at
        ``size`` (Solr's facet.limit; the reference gets faceting from
        the Solr it delegates to).

        Two routes, like Solr's docValues-vs-enum facet methods:

        - STORED single-valued fields (repo/path/commit/lang — any
          doc_stats column) use the doc-values path: one row-group-pruned
          projected read of (doc_ord, field) over the match span, then a
          vectorized unique-count over exactly the matching ords. Cost is
          bounded by the MATCHES (plus row-group granularity), never by
          the field's cardinality — safe for a 10^6-term ``path`` facet.
          Semantics are keyword/docvalues (raw stored value, untokenized),
          which is what Solr string-field faceting returns.

        - Indexed-only (tokenized) fields fall back to facet.method=enum:
          per-lexicon-term posting intersections against the match set.
          Cost scales with the FIELD'S CARDINALITY — fine for enum-like
          fields, documented-expensive for high-cardinality text (exactly
          Lucene's cost model for enum faceting without doc values)."""
        node = self._parse(query)
        matches = self._matching(node, _Window(self.reader)).materialize(
            self.reader.ord_span(), self.tombstones)
        if matches.size == 0:
            return []
        vals = self.reader.doc_values(facet_field, matches)
        if vals is not None:
            # facet.missing=false: null stored values don't facet
            vals = np.array([v for v in vals if v is not None], dtype=str)
            if vals.size == 0:
                return []
            terms, counts = np.unique(vals, return_counts=True)
            out = [(str(t), int(c)) for t, c in zip(terms, counts)]
            out.sort(key=lambda kv: (-kv[1], kv[0]))
            return out[:size]
        out = []
        for term in self.reader.terms_in_range(facet_field, None, None,
                                               limit=1 << 20):
            docs = self.reader.decode_term_flat(facet_field, term, False)[0]
            if docs.size == 0:
                continue
            docs = docs.astype(np.int64)
            pos = np.searchsorted(matches, docs)
            ok = pos < matches.size
            n = int((matches[pos[ok]] == docs[ok]).sum())
            if n:
                out.append((term, n))
        out.sort(key=lambda kv: (-kv[1], kv[0]))
        return out[:size]

    def search_grouped(self, query: str, group_field: str,
                       k_groups: int = 10, docs_per_group: int = 2
                       ) -> List[Tuple[str, List[Tuple[str, float]]]]:
        """Solr result grouping (group=true&group.field=F): the top
        ``k_groups`` groups ranked by their best document's BM25 score
        (tie: group value asc), each with its ``docs_per_group`` best
        docs (tie: doc ordinal asc — equals doc_id asc by the ordinal
        construction). Like Lucene's two-pass grouping collector, every
        match is scored (cost O(matches), same as any collector over
        the result set); group keys come from the doc-values route, so
        ``group_field`` must be a stored single-valued field. Null group
        values are dropped (deviation: Solr buckets nulls as a group)."""
        node = self._parse(query)
        hits = self._score_candidates(node, self.reader.ord_span())
        if not hits:
            return []
        ords = np.array(sorted(o for o, _ in hits), dtype=np.int64)
        vals = self.reader.doc_values(group_field, ords)
        if vals is None:
            raise ValueError(
                f"group_field {group_field!r} is not a stored field "
                "(doc-values grouping requires one)")
        val_by_ord = {int(o): v for o, v in zip(ords, vals)}
        groups: Dict = {}
        for o, s in hits:          # already (score desc, ord asc) order
            g = val_by_ord.get(o)
            if g is None:
                continue
            lst = groups.setdefault(str(g), [])
            if len(lst) < docs_per_group:
                lst.append((o, s))
        ranked = sorted(groups.items(),
                        key=lambda kv: (-kv[1][0][1], kv[0]))[:k_groups]
        id_map = self.reader.doc_ids_for_ords(
            [o for _, docs in ranked for o, _ in docs])
        return [(g, [(id_map[o], s) for o, s in docs])
                for g, docs in ranked]

    def more_like_this(self, like_text: str, k: int = 10,
                       max_query_terms: int = 25,
                       min_doc_freq: int = 2,
                       exclude_doc_id: Optional[str] = None
                       ) -> List[Tuple[str, float]]:
        """Lucene MoreLikeThis over like-text (MLT.like(Reader)): extract
        the text's highest tf*idf terms against THIS index's statistics
        and run them as a BM25 OR (MLT's scoring-boolean rewrite).
        Deterministic selection: terms ranked by tf*idf desc then term
        asc, capped at ``max_query_terms`` (MLT's default 25); terms with
        df < ``min_doc_freq`` are skipped (MLT minDocFreq — near-hapax
        terms say nothing about similarity) and out-of-vocabulary terms
        contribute nothing. Per-term cost is one lexicon point lookup —
        no posting decode until the final query runs. Pass
        ``exclude_doc_id`` to drop the source document when the text came
        from an indexed doc."""
        from collections import Counter

        from lucille_spark.analysis import tokenize_py

        field = self.default_field
        n = self.reader.n_docs(field)
        scored_terms = []
        for term, tf in Counter(tokenize_py(like_text)).items():
            info = self.reader.term_info(field, term)
            if info is None or info["df"] < min_doc_freq:
                continue
            idf = math.log(1.0 + (n - info["df"] + 0.5)
                           / (info["df"] + 0.5))
            scored_terms.append((-float(tf) * idf, term))
        scored_terms.sort()
        terms = sorted(t for _, t in scored_terms[:max_query_terms])
        if not terms:
            return []
        q = " OR ".join(f"{field}:{t}" for t in terms)
        hits = self.search(q, k + (1 if exclude_doc_id else 0))
        return [(d, s) for d, s in hits if d != exclude_doc_id][:k]

    def suggest(self, text: str, k: int = 5,
                max_edits: int = 2) -> List[str]:
        """Solr SpellCheckComponent analogue: dictionary terms closest
        to ``text`` in edit distance (closest-first, tie term asc),
        capped at ``k``. An exact dictionary hit returns [text] (the
        word is spelled correctly). Reuses the bounded fuzzy expansion
        (length band in-scan + bag-distance prefilter + banded DP), so
        cost never scans the whole lexicon."""
        field = self.default_field
        if self.reader.term_info(field, text) is not None:
            return [text]
        return self.reader.terms_fuzzy(field, text, max_edits=max_edits,
                                       limit=k)

    def match(self, query: str) -> List[str]:
        """Percolator-style boolean matching: sorted doc_ids."""
        node = self._parse(query)
        ords = self._matching(node, _Window(self.reader)).materialize(
            self.reader.ord_span(), self.tombstones).tolist()
        id_map = self.reader.doc_ids_for_ords(ords)
        return sorted(id_map[o] for o in ords)

    def _resolve(self, hits: List[Tuple[int, float]]) -> List[Tuple[str, float]]:
        id_map = self.reader.doc_ids_for_ords([d for d, _ in hits])
        return [(id_map[d], s) for d, s in hits]

    # ------------------------------------------- boolean match + scoring
    def _matching(self, node, win: _Window) -> DocSet:
        """Boolean evaluation over lazy-complement DocSets. NOT never
        builds a range(n_docs) universe: negation just flips the complement
        flag, and the algebra pushes it into setdiffs. Crucially the
        universe, when a pure negation IS materialized, is the ordinal SPAN
        (max doc_ord + 1, from the manifest) — NOT the live n_docs, which undercounts
        after incremental merges and would silently drop freshly merged
        high-ordinal docs from NOT results."""
        if isinstance(node, Term):
            docs = win.decode(node.field, node.text)[0]
            return DocSet(np.asarray(docs, dtype=np.int64))
        if isinstance(node, MatchAll):
            return ~DocSet.empty()   # the lazy universe
        if isinstance(node, Phrase):
            return self._phrase_docs(node, win)
        if isinstance(node, Not):
            return ~self._matching(node.child, win)
        if isinstance(node, Must):
            return self._matching(node.child, win)
        if isinstance(node, And):
            res: Optional[DocSet] = None
            for c in node.children:
                s = self._matching(c, win)
                res = s if res is None else res & s
                if res.arr.size == 0 and not res.neg:
                    return DocSet.empty()
            return res if res is not None else DocSet.empty()
        if isinstance(node, Or):
            # Lucene MUST + SHOULD + MUST_NOT semantics
            # (MatchQuery.java:85-92): when unary-+ MUST clauses are
            # present, they alone decide matching (each required; the
            # SHOULD clauses become score-only); otherwise the SHOULD
            # union matches; NOT children EXCLUDE from either (they are
            # prohibited clauses, not boolean ¬ operands).
            musts = [c for c in node.children if isinstance(c, Must)]
            shoulds = [c for c in node.children
                       if not isinstance(c, (Must, Not))]
            neg = [c for c in node.children if isinstance(c, Not)]
            res: Optional[DocSet] = None
            if musts:
                for c in musts:
                    s = self._matching(c, win)
                    res = s if res is None else res & s
            else:
                for c in shoulds:
                    s = self._matching(c, win)
                    res = s if res is None else res | s
            if res is None:
                # pure-negative OR: everything except the negated sets
                res = DocSet.empty()
                res = ~res  # universe
            for c in neg:
                res = res & ~self._matching(c.child, win)
            return res
        raise TypeError(f"unknown node {node!r}")

    def _phrase_docs(self, p: Phrase, win: _Window) -> DocSet:
        """Positional phrase match, vectorized: each distinct term is
        decoded once (the window's memo) to flat (doc, pos) arrays, and
        adjacency is one searchsorted probe per term over sorted
        (doc*MAXPOS + pos) keys — no per-document python loop. Sloppy
        phrases (slop > 0) route to the window matcher."""
        if p.slop:
            return self._phrase_docs_sloppy(p, win)
        terms = list(p.terms)
        decoded = {}
        for t in set(terms):
            docs, _, flat, lens = win.decode(p.field, t, positions=True)
            if docs.size == 0:
                return DocSet.empty()
            flat_docs = np.repeat(docs.astype(np.int64), lens)
            decoded[t] = (flat_docs, flat.astype(np.int64))
        MAXPOS = np.int64(1) << np.int64(32)
        base_docs, base_pos = decoded[terms[0]]
        # candidate occurrence keys of the first term. Keys are built from
        # doc-major, position-ascending postings, so every key array is
        # already SORTED — membership is a searchsorted probe instead of
        # np.isin's internal sort (r7).
        keys = base_docs * MAXPOS + base_pos
        for off in range(1, len(terms)):
            nd, npos = decoded[terms[off]]
            nkeys = nd * MAXPOS + npos
            want = keys + off
            pos = np.searchsorted(nkeys, want)
            ok = pos < nkeys.size
            ok[ok] = nkeys[pos[ok]] == want[ok]
            keys = keys[ok]
            if keys.size == 0:
                return DocSet.empty()
        return DocSet(np.unique(keys // MAXPOS))

    def _phrase_docs_sloppy(self, p: Phrase, win: _Window) -> DocSet:
        """Sloppy phrase (`"a b"~N`): a doc matches when occurrences
        p_0..p_{n-1} exist with span width max(p_i - i) - min(p_i - i)
        <= slop (Phrase docstring; slop=0 would be exact adjacency).
        Candidates are the intersection of the terms' doc sets; within
        each candidate one two-pointer pass over the merged
        position-adjusted occurrence list finds a covering window —
        O(total occurrences) per doc, no pairwise position products."""
        n = len(p.terms)
        per, cand = [], None
        for i, t in enumerate(p.terms):
            docs, _, flat, lens = win.decode(p.field, t, positions=True)
            if docs.size == 0:
                return DocSet.empty()
            fd = np.repeat(docs.astype(np.int64), lens)
            per.append((fd, flat.astype(np.int64) - i))
            dset = docs.astype(np.int64)
            cand = dset if cand is None else np.intersect1d(
                cand, dset, assume_unique=True)
            if cand.size == 0:
                return DocSet.empty()
        d = np.concatenate([fd for fd, _ in per])
        q = np.concatenate([qq for _, qq in per])
        lab = np.concatenate([np.full(fd.size, i, dtype=np.int64)
                              for i, (fd, _) in enumerate(per)])
        # cand is sorted (intersect1d) — searchsorted membership probe
        _p = np.searchsorted(cand, d)
        keep = _p < cand.size
        keep[keep] = cand[_p[keep]] == d[keep]
        d, q, lab = d[keep], q[keep], lab[keep]
        order = np.lexsort((q, d))
        d, q, lab = d[order], q[order], lab[order]
        lo = np.searchsorted(d, cand, side="left")
        hi = np.searchsorted(d, cand, side="right")
        out = []
        for doc, a, b in zip(cand.tolist(), lo.tolist(), hi.tolist()):
            if _sloppy_window_exists(q[a:b], lab[a:b], n, p.slop):
                out.append(doc)
        return DocSet(np.asarray(out, dtype=np.int64))

    def _score_candidates(self, node, k: int,
                          win: Optional[_Window] = None):
        """Vectorized candidate scoring: per positive term, one np.searchsorted
        maps its postings onto the sorted candidate array and accumulates
        BM25 contributions (in term order, so float summation matches the
        oracle); tie-break via lexsort on (-score, doc_ord). Candidates
        are the matches in ``win`` (None: the whole span)."""
        if win is None:
            win = _Window(self.reader)
        cand = self._matching(node, win).materialize(win.hi, self.tombstones,
                                                     win.lo)
        if cand.size == 0:
            return []
        scores = np.zeros(cand.size, dtype=np.float64)
        for t in positive_terms(node):
            docs, tfs, _, _ = win.decode(t.field, t.text)
            if docs.size == 0:
                continue
            docs = docs.astype(np.int64)
            idf = self.reader.idf(t.field, t.text) * t.boost
            avgdl = self.reader.avgdl(t.field)
            pos = np.searchsorted(cand, docs)
            pos_ok = pos < cand.size
            hit = np.zeros(docs.size, dtype=bool)
            hit[pos_ok] = cand[pos[pos_ok]] == docs[pos_ok]
            tf = tfs[hit].astype(np.float64)
            dl = self.reader.doc_lengths(t.field)[docs[hit]].astype(
                np.float64)
            contrib = idf * (tf / (tf + BM25_K1 * (
                1.0 - BM25_B + BM25_B * dl / avgdl)))
            scores[pos[hit]] += contrib
        order = np.lexsort((cand, -scores))[:k]
        return [(int(cand[i]), float(scores[i])) for i in order]


# --- helpers ----------------------------------------------------------------

def _sloppy_window_exists(qs, labels, n: int, slop: int) -> bool:
    """True when the sorted adjusted-position list (qs ascending, labels =
    phrase term index) contains a window covering all n labels with
    qs[right] - qs[left] <= slop. Standard minimal-covering two-pointer."""
    count = [0] * n
    have = 0
    left = 0
    for right in range(len(qs)):
        c = int(labels[right])
        count[c] += 1
        if count[c] == 1:
            have += 1
        while have == n:
            if qs[right] - qs[left] <= slop:
                return True
            cl = int(labels[left])
            count[cl] -= 1
            if count[cl] == 0:
                have -= 1
            left += 1
    return False


def _leaf_terms(node) -> List[Tuple[str, str]]:
    """Unique (field, term) of every Term and phrase term in ``node``,
    negated ones included: the terms :meth:`IndexSearcher._matching`
    decodes."""
    if isinstance(node, Term):
        out = [(node.field, node.text)]
    elif isinstance(node, Phrase):
        out = [(node.field, t) for t in node.terms]
    elif isinstance(node, (Not, Must)):
        out = _leaf_terms(node.child)
    elif isinstance(node, (And, Or)):
        out = [t for c in node.children for t in _leaf_terms(c)]
    else:  # MatchAll
        out = []
    return list(dict.fromkeys(out))
