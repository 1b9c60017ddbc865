"""Driver-side ranked retrieval over the compressed index.

Three physical strategies, all rank-identical to the exhaustive NumPy oracle
(tie-break: score desc, doc_id asc — and doc_ord order IS doc_id order by
construction, see ordinals.py):

- pure disjunctions  -> Block-Max WAND (Ding & Suel, SIGIR'11): pivot-based
  skipping on global term upper bounds, refined with per-block max scores,
  whole blocks skipped without decompression.
- pure conjunctions  -> leapfrog intersection over block cursors with
  block-max pruning.
- anything else (phrases, negations, nested boolean) -> boolean-filter the
  candidate set, then score candidates exhaustively.

The reference delegates all of this to Lucene inside Solr/ES/OpenSearch
(SURVEY.md §2.9); the query grammar contract is MatchQuery.java:85-92.
"""

from __future__ import annotations

import heapq
import math
from typing import Dict, List, Optional, Tuple

import numpy as np

from lucille_spark import BM25_B, BM25_K1
from lucille_spark.index.reader import SENTINEL, IndexReader, TermCursor
from lucille_spark.query.parser import (
    And, MatchAll, Must, Not, Or, Phrase, Term, expand_prefixes, parse,
    positive_terms,
)

# strategy switch for pure disjunctions/conjunctions (see search()): total
# postings across the query's terms at or below this bound use the exact
# vectorized decode-and-score path; above it, block-max WAND / leapfrog
# cursor skipping. ~4M postings decode+score in well under 100 ms; the
# cursor walk's Python-loop constant only pays for itself past that.
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

    def materialize(self, span: int,
                    tombstones: Optional[np.ndarray] = None) -> np.ndarray:
        """Concrete sorted ordinal array over universe [0, span), minus
        tombstones. Allocates O(span) ONLY for negated (pure-NOT) sets."""
        if self.neg:
            drop = self.arr
            if tombstones is not None and tombstones.size:
                drop = np.union1d(drop, tombstones)
            mask = np.ones(span, dtype=bool)
            inb = drop[(drop >= 0) & (drop < span)]
            mask[inb] = False
            return np.flatnonzero(mask).astype(np.int64)
        out = self.arr
        if tombstones is not None and tombstones.size:
            out = np.setdiff1d(out, tombstones, assume_unique=True)
        return out


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
        sorted lexicon, fuzzy a banded closest-first scan). Every query
        parses first, so this also starts its decode memo."""
        self._decoded = {}
        node = parse(query, self.default_field)
        return expand_prefixes(node, self.reader.terms_with_prefix,
                               fuzzy_expander=self.reader.terms_fuzzy,
                               wildcard_expander=self.reader.terms_wildcard,
                               range_expander=self.reader.terms_in_range)

    # ------------------------------------------------------------------ API
    def search(self, query: str, k: int = 10) -> List[Tuple[str, float]]:
        """BM25 top-k [(doc_id, score)] using the fastest applicable strategy.

        Pure disjunctions/conjunctions pick between two EXACT strategies by
        posting volume: below ``VEC_POSTINGS_MAX`` total postings, decoding
        everything and scoring vectorized (:meth:`_score_candidates` — a
        handful of NumPy passes) beats the cursor-based WAND/leapfrog
        walk, whose per-doc Python-loop overhead dominates small and
        mid-sized indexes (r7 A/B: hot-term OR over 50k docs 103 ms ->
        ~10 ms; identical results — same float accumulation order, same
        (score desc, ord asc) tie-break, and adding an absent term's 0.0
        is an IEEE identity). Above the bound, block-max WAND / leapfrog
        skipping wins and keeps the asymptotics for 100 TB-scale indexes."""
        node = self._parse(query)
        shape = _classify(node)
        if shape in ("or", "and", "term"):
            terms = [node] if shape == "term" else node_terms(node)
            infos = [self.reader.term_info(t.field, t.text) for t in terms]
            if sum(i["df"] for i in infos if i) <= VEC_POSTINGS_MAX:
                return self._resolve(self._score_candidates(node, k))
        if shape == "or":
            hits = self._wand_or(
                [TermCursor(self.reader, t.field, t.text, boost=t.boost)
                 for t in node_terms(node)], k)
        elif shape == "and":
            hits = self._leapfrog_and(
                [TermCursor(self.reader, t.field, t.text, boost=t.boost)
                 for t in node_terms(node)], k)
        elif shape == "term":
            hits = self._wand_or([TermCursor(self.reader, node.field,
                                             node.text, boost=node.boost)],
                                 k)
        else:
            hits = self._score_candidates(node, k)
        return self._resolve(hits)

    def search_exhaustive(self, query: str, k: int = 10) -> List[Tuple[str, float]]:
        """Decode-everything reference path (cross-check for WAND)."""
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
        matches = self._matching(node).materialize(
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
        ords = self._matching(node).materialize(
            self.reader.ord_span(), self.tombstones).tolist()
        id_map = self.reader.doc_ids_for_ords(ords)
        return sorted(id_map[o] for o in ords)

    def _resolve(self, hits: List[Tuple[int, float]]) -> List[Tuple[str, float]]:
        id_map = self.reader.doc_ids_for_ords([d for d, _ in hits])
        return [(id_map[d], s) for d, s in hits]

    # ------------------------------------------------------- WAND (pure OR)
    def _wand_or(self, cursors: List[TermCursor], k: int):
        cursors = [c for c in cursors if c.df > 0]
        heap: List[Tuple[float, int]] = []  # (score, -doc_ord) min-heap
        theta = -math.inf
        active = list(cursors)
        while True:
            active = [c for c in active if c.doc != SENTINEL]
            if not active:
                break
            order = sorted(active, key=lambda c: c.doc)
            acc, pivot_idx = 0.0, None
            for i, c in enumerate(order):
                acc += c.max_score
                if acc > theta:
                    pivot_idx = i
                    break
            if pivot_idx is None:
                break  # even the sum of all remaining UBs can't beat theta
            pivot = order[pivot_idx].doc
            # extend the pivot group over every cursor tied at the pivot doc:
            # they all contribute to its score, so they must be inside the
            # skip bound (otherwise a multi-term doc gets pruned on a
            # single term's block max)
            while (pivot_idx + 1 < len(order)
                   and order[pivot_idx + 1].doc == pivot):
                pivot_idx += 1
            leads = order[: pivot_idx + 1]
            ub = sum(c.block_max_score_at(pivot) for c in leads)
            if len(heap) >= k and ub <= theta:
                fence = min(c.block_last_at(pivot) for c in leads) + 1
                if pivot_idx + 1 < len(order):
                    fence = min(fence, order[pivot_idx + 1].doc)
                fence = max(fence, pivot + 1)
                adv = max(leads, key=lambda c: c.max_score)
                adv.next_geq(fence)
                continue
            if order[0].doc == pivot:
                # full eval — accumulate in ORIGINAL term order so the float
                # sum matches the oracle bit-for-bit
                if not self.reader.has_tombstone(pivot):
                    s = 0.0
                    for c in cursors:
                        if c.doc == pivot:
                            s += c.score()
                    theta = _heap_offer(heap, k, s, pivot, theta)
                # advance EVERY cursor sitting at pivot — including ones
                # beyond pivot_idx; leaving them would re-evaluate the doc
                # later with a partial score and poison the heap
                for c in order:
                    if c.doc == pivot:
                        c.next()
            else:
                adv = max((c for c in leads if c.doc < pivot),
                          key=lambda c: c.max_score)
                adv.next_geq(pivot)
        return _heap_to_hits(heap)

    # --------------------------------------------------- leapfrog (pure AND)
    def _leapfrog_and(self, cursors: List[TermCursor], k: int):
        cursors_eval = list(cursors)  # fixed order for float determinism
        if any(c.df == 0 for c in cursors):
            return []
        heap: List[Tuple[float, int]] = []
        theta = -math.inf
        d = max(c.doc for c in cursors)
        while d < SENTINEL:
            aligned = True
            for c in cursors:
                nd = c.next_geq(d)
                if nd != d:
                    d = nd
                    aligned = False
                    break
            if not aligned:
                continue
            if len(heap) >= k:
                ub = sum(c.block_max_score_at(d) for c in cursors)
                if ub <= theta:
                    fence = min(c.block_last_at(d) for c in cursors) + 1
                    d = max(fence, d + 1)
                    continue
            if not self.reader.has_tombstone(d):
                s = 0.0
                for c in cursors_eval:
                    s += c.score()
                theta = _heap_offer(heap, k, s, d, theta)
            d = d + 1
        return _heap_to_hits(heap)

    # ----------------------------------------- general boolean + exhaustive
    def _decode(self, field: str, term: str, positions: bool = False):
        """``reader.decode_term_flat`` at most once per query and term: a
        decode with positions also serves one without them."""
        hit = self._decoded.get((field, term))
        if hit is None or (positions and not hit[0]):
            out = self.reader.decode_term_flat(field, term, positions)
            hit = self._decoded[field, term] = (positions, out)
        return hit[1]

    def _matching(self, node) -> DocSet:
        """Boolean evaluation over lazy-complement DocSets. NOT never
        builds a range(n_docs) universe: negation just flips the complement
        flag, and the algebra pushes it into setdiffs. Crucially the
        universe, when a pure negation IS materialized, is the ordinal SPAN
        (max doc_ord + 1, from the manifest) — NOT the live n_docs, which undercounts
        after incremental merges and would silently drop freshly merged
        high-ordinal docs from NOT results."""
        if isinstance(node, Term):
            docs = self._decode(node.field, node.text)[0]
            return DocSet(np.asarray(docs, dtype=np.int64))
        if isinstance(node, MatchAll):
            return ~DocSet.empty()   # the lazy universe
        if isinstance(node, Phrase):
            return self._phrase_docs(node)
        if isinstance(node, Not):
            return ~self._matching(node.child)
        if isinstance(node, Must):
            return self._matching(node.child)
        if isinstance(node, And):
            res: Optional[DocSet] = None
            for c in node.children:
                s = self._matching(c)
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
                    s = self._matching(c)
                    res = s if res is None else res & s
            else:
                for c in shoulds:
                    s = self._matching(c)
                    res = s if res is None else res | s
            if res is None:
                # pure-negative OR: everything except the negated sets
                res = DocSet.empty()
                res = ~res  # universe
            for c in neg:
                res = res & ~self._matching(c.child)
            return res
        raise TypeError(f"unknown node {node!r}")

    def _phrase_docs(self, p: Phrase) -> DocSet:
        """Positional phrase match, vectorized: each distinct term is
        decoded once (the query's memo) to flat (doc, pos) arrays, and
        adjacency is one searchsorted probe per term over sorted
        (doc*MAXPOS + pos) keys — no per-document python loop. Sloppy
        phrases (slop > 0) route to the window matcher."""
        if p.slop:
            return self._phrase_docs_sloppy(p)
        terms = list(p.terms)
        decoded = {}
        for t in set(terms):
            docs, _, flat, lens = self._decode(p.field, t, positions=True)
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

    def _phrase_docs_sloppy(self, p: Phrase) -> DocSet:
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
            docs, _, flat, lens = self._decode(p.field, t, positions=True)
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

    def _score_candidates(self, node, k: int):
        """Vectorized candidate scoring: per positive term, one np.searchsorted
        maps its postings onto the sorted candidate array and accumulates
        BM25 contributions (in term order, so float summation matches the
        oracle); tie-break via lexsort on (-score, doc_ord)."""
        cand = self._matching(node).materialize(
            self.reader.ord_span(), self.tombstones)
        if cand.size == 0:
            return []
        scores = np.zeros(cand.size, dtype=np.float64)
        for t in positive_terms(node):
            docs, tfs, _, _ = self._decode(t.field, t.text)
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


def _heap_offer(heap, k, score, doc, theta):
    """Min-heap of (score, -doc): root is the worst hit (lowest score, and
    among equals the LARGEST doc — earlier docs win ties)."""
    entry = (score, -doc)
    if len(heap) < k:
        heapq.heappush(heap, entry)
        return heap[0][0] if len(heap) == k else theta
    if entry > heap[0]:
        heapq.heapreplace(heap, entry)
    return heap[0][0]


def _heap_to_hits(heap) -> List[Tuple[int, float]]:
    return [(-nd, s) for s, nd in sorted(heap, key=lambda e: (-e[0], -e[1]))]


def _classify(node) -> str:
    if isinstance(node, Term):
        return "term"
    if isinstance(node, Or) and all(isinstance(c, Term) for c in node.children):
        return "or"
    if isinstance(node, And) and all(isinstance(c, Term) for c in node.children):
        return "and"
    return "general"


def node_terms(node) -> List[Term]:
    """Unique Term children in order (duplicates score once, like the oracle)."""
    seen, out = set(), []
    for c in node.children:
        if isinstance(c, Term) and c not in seen:
            seen.add(c)
            out.append(c)
    return out
