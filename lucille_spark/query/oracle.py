"""Exhaustive in-memory BM25 oracle (NumPy) — the rank-identity reference.

The reference delegates ranked retrieval to Solr/ES/OpenSearch (all
Lucene 9.11.1 — ``/root/reference/lucille-parent/pom.xml:48``); Lucille
itself never scores. This oracle takes Lucene's place as the golden
contract: the Spark DataFrame executor and the block-max top-k engine must
both return *rank-identical* top-k (docIDs and scores) to it.

Scoring (Lucene BM25Similarity defaults, boost=1, exact dl — we skip
Lucene's 1-byte norm quantization on purpose and define this formula as the
repo-wide contract):

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfNorm(t,d) = tf / (tf + k1 * (1 - b + b * dl/avgdl))
    score(q,d)  = sum over positive query terms of idf * tfNorm

k1 = 1.2, b = 0.75. Top-k tie-break: (-score, doc_id ascending).

Boolean semantics mirror Lucene's BooleanQuery: in an OR context a negated
clause is a MUST_NOT over the whole disjunction; a query with only negative
clauses matches nothing; unary-+ MUST clauses, when present, alone decide
matching (each required) while the SHOULD clauses become score-only.
"""

from __future__ import annotations

import math
from collections import Counter
from typing import Dict, Iterable, List, Sequence, Tuple

from lucille_spark import BM25_B, BM25_K1
from lucille_spark.analysis import tokenize_py
from lucille_spark.query.parser import (And, Must, Not, Or, Phrase, Term,
                                         parse)


class OracleIndex:
    """Tiny in-memory inverted index over a list of documents.

    docs: iterable of dicts; ``id_field`` names the unique id; every other
    str-valued field is analyzed and indexed (multi-field, like the
    reference's percolator input docs).
    """

    def __init__(self, docs: Iterable[dict], id_field: str = "id",
                 fields: Sequence[str] | None = None):
        self.id_field = id_field
        self.doc_ids: List = []
        # field -> term -> {doc_index: [positions]}
        self.postings: Dict[str, Dict[str, Dict[int, List[int]]]] = {}
        # field -> doc_index -> dl
        self.doc_len: Dict[str, Dict[int, int]] = {}
        for i, doc in enumerate(docs):
            self.doc_ids.append(doc[id_field])
            for f, v in doc.items():
                if f == id_field or v is None:
                    continue
                if fields is not None and f not in fields:
                    continue
                toks = tokenize_py(str(v))
                self.doc_len.setdefault(f, {})[i] = len(toks)
                fp = self.postings.setdefault(f, {})
                for pos, t in enumerate(toks):
                    fp.setdefault(t, {}).setdefault(i, []).append(pos)
        self.n_docs = len(self.doc_ids)
        self.avgdl = {
            f: (sum(dl.values()) / max(1, len(dl))) for f, dl in self.doc_len.items()
        }

    # --- stats -----------------------------------------------------------
    def df(self, field: str, term: str) -> int:
        return len(self.postings.get(field, {}).get(term, {}))

    def idf(self, field: str, term: str) -> float:
        df = self.df(field, term)
        return math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))

    # --- boolean matching --------------------------------------------------
    def _term_docs(self, t: Term) -> set:
        return set(self.postings.get(t.field, {}).get(t.text, {}).keys())

    def _phrase_docs(self, p: Phrase) -> set:
        field_postings = self.postings.get(p.field, {})
        candidates = None
        for t in p.terms:
            docs = set(field_postings.get(t, {}).keys())
            candidates = docs if candidates is None else candidates & docs
            if not candidates:
                return set()
        if p.slop:
            from lucille_spark.query.searcher import _sloppy_window_exists

            out = set()
            n = len(p.terms)
            for d in candidates:
                events = sorted(
                    (pos - i, i)
                    for i, t in enumerate(p.terms)
                    for pos in field_postings[t][d])
                qs = [e[0] for e in events]
                labels = [e[1] for e in events]
                if _sloppy_window_exists(qs, labels, n, p.slop):
                    out.add(d)
            return out
        out = set()
        for d in candidates:
            first = field_postings[p.terms[0]][d]
            position_sets = [set(field_postings[t][d]) for t in p.terms]
            for pos in first:
                if all((pos + off) in position_sets[off] for off in range(len(p.terms))):
                    out.add(d)
                    break
        return out

    def matching(self, node) -> set:
        """Doc-index set matching a parsed query node."""
        from lucille_spark.query.parser import MatchAll

        if isinstance(node, MatchAll):
            return set(range(self.n_docs))
        if isinstance(node, Term):
            return self._term_docs(node)
        if isinstance(node, Phrase):
            return self._phrase_docs(node)
        if isinstance(node, Not):
            return set(range(self.n_docs)) - self.matching(node.child)
        if isinstance(node, Must):
            return self.matching(node.child)
        if isinstance(node, And):
            res = None
            for c in node.children:
                s = self.matching(c)
                res = s if res is None else res & s
            return res or set()
        if isinstance(node, Or):
            # Lucene BooleanQuery occurs: MUST clauses (unary +) alone
            # decide matching when present; SHOULD clauses then only
            # contribute score; MUST_NOT always excludes.
            musts = [c for c in node.children if isinstance(c, Must)]
            negative = [c for c in node.children if isinstance(c, Not)]
            should = [c for c in node.children
                      if not isinstance(c, (Must, Not))]
            if musts:
                res = None
                for c in musts:
                    s = self.matching(c)
                    res = s if res is None else res & s
            elif should:
                res = set()
                for c in should:
                    res |= self.matching(c)
            else:
                res = set()  # pure-negative boolean matches nothing (Lucene)
            for c in negative:
                res -= self.matching(c.child)
            return res
        raise TypeError(f"unknown node {node!r}")

    def terms_with_prefix(self, field: str, prefix: str) -> List[str]:
        return sorted(t for t in self.postings.get(field, {})
                      if t.startswith(prefix))

    def terms_fuzzy(self, field: str, text: str, max_edits: int = 2,
                    limit: int = 50) -> List[str]:
        from lucille_spark.query.parser import levenshtein

        scored = sorted(
            (d, t) for t in self.postings.get(field, {})
            if (d := levenshtein(text, t, cap=max_edits)) <= max_edits)
        return [t for _, t in scored[:limit]]

    def terms_wildcard(self, field: str, pattern: str,
                       limit: int = 1024) -> List[str]:
        import fnmatch
        import re as _re

        rx = _re.compile(fnmatch.translate(pattern))
        return sorted(t for t in self.postings.get(field, {})
                      if rx.match(t))[:limit]

    def terms_in_range(self, field: str, lower, upper,
                       include_lower: bool = True,
                       include_upper: bool = True,
                       limit: int = 1024) -> List[str]:
        def ok(t):
            if lower is not None and (t < lower or
                                      (t == lower and not include_lower)):
                return False
            if upper is not None and (t > upper or
                                      (t == upper and not include_upper)):
                return False
            return True

        return sorted(t for t in self.postings.get(field, {})
                      if ok(t))[:limit]

    def _parse(self, query: str, default_field: str):
        from lucille_spark.query.parser import expand_prefixes

        return expand_prefixes(parse(query, default_field),
                               self.terms_with_prefix,
                               fuzzy_expander=self.terms_fuzzy,
                               wildcard_expander=self.terms_wildcard,
                               range_expander=self.terms_in_range)

    def match_query(self, query: str, default_field: str = "content") -> List:
        """Percolator-style: return doc ids matching the boolean query."""
        node = self._parse(query, default_field)
        return sorted(
            (self.doc_ids[i] for i in self.matching(node)),
            key=lambda x: (str(x)),
        )

    # --- BM25 ranked retrieval ---------------------------------------------
    def score_term(self, t: Term, doc_index: int) -> float:
        plist = self.postings.get(t.field, {}).get(t.text, {})
        positions = plist.get(doc_index)
        if not positions:
            return 0.0
        tf = len(positions)
        dl = self.doc_len[t.field].get(doc_index, 0)
        avgdl = self.avgdl.get(t.field, 1.0) or 1.0
        tf_norm = tf / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))
        return self.idf(t.field, t.text) * t.boost * tf_norm

    def search(self, query: str, k: int = 10,
               default_field: str = "content") -> List[Tuple]:
        """Exhaustive BM25 top-k: [(doc_id, score)], tie-break by doc_id.

        Scoring accumulates over *positive* terms in a fixed order
        (term order of appearance) so float summation order is deterministic.
        """
        node = self._parse(query, default_field)
        from lucille_spark.query.parser import positive_terms

        matched = self.matching(node)
        terms = positive_terms(node)
        scored = []
        for d in matched:
            s = 0.0
            for t in terms:
                s += self.score_term(t, d)
            scored.append((self.doc_ids[d], s))
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:k]


def bm25_components(tf: int, df: int, dl: int, n_docs: int, avgdl: float,
                    k1: float = BM25_K1, b: float = BM25_B) -> float:
    """The scalar BM25 term score — shared formula for cross-checks."""
    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    return idf * (tf / (tf + k1 * (1.0 - b + b * dl / avgdl)))
