"""Lucene classic QueryParser subset (the reference's query grammar).

Grammar contract comes from the reference percolator stage, which feeds
user queries to Lucene's classic QueryParser with a StandardAnalyzer
(``/root/reference/lucille-core/src/main/java/com/kmwllc/lucille/stage/MatchQuery.java:85-92``;
fixture queries at
``lucille-core/src/test/resources/MatchQueryTest/config.conf:14-26``).

Supported subset (everything the reference fixtures use, plus the rest of
the classic multi-term family):
  - bare terms (analyzed with the standard analyzer), default field
  - fielded terms          ``field:term``
  - quoted phrases         ``field:"exact phrase"``
  - boolean operators      ``AND``, ``OR``, ``NOT`` (and unary ``-``/``+``)
  - grouping               ``( ... )`` and field grouping ``field:(a OR b)``
  - prefix                 ``term*`` (PrefixQuery)
  - fuzzy                  ``term~`` / ``term~1`` (FuzzyQuery)
  - wildcard               ``te?t`` / ``t*st`` / ``*est`` (WildcardQuery;
                           ``?`` = one char, ``*`` = any run)
  - term range             ``field:[a TO b]`` / ``{a TO b}`` (TermRange,
                           inclusive/exclusive; ``*`` = open bound)
  - sloppy phrases         ``"a b"~2`` (span-width contract, Phrase.slop)
  - match-all              ``*:*`` (MatchAllDocsQuery)

Default operator is OR (Lucene's default). ``-x`` / ``NOT x`` is MUST_NOT.
``+x`` is MUST (Lucene classic ``+required``): in a default-OR clause
list, the must clauses alone decide matching (every one required) while
the remaining SHOULD clauses become optional score-only contributors —
``a +b c`` matches exactly the docs containing ``b``, scored over all
three. In an AND context ``+`` is a no-op (already required).
The AST is engine-neutral; executors live in ``oracle.py`` (NumPy),
``executor_df.py`` (DataFrame), ``searcher.py`` (block-max top-k).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from typing import List, Optional

from lucille_spark.analysis import tokenize_py

DEFAULT_FIELD = "content"


@dataclass(frozen=True)
class Term:
    field: str
    text: str
    boost: float = 1.0      # Lucene classic `term^2` clause boost


@dataclass(frozen=True)
class Phrase:
    """Positional phrase. ``slop`` (Lucene `"a b"~2`) relaxes adjacency:
    the phrase matches when occurrences p_0..p_{n-1} (one per term) exist
    with max_i(p_i - i) - min_i(p_i - i) <= slop — the span-width
    formulation, which reproduces Lucene's common cases ("b a" needs
    slop 2, one intervening word needs slop 1); slop=0 is exact
    adjacency. Repeated terms in a sloppy phrase are rejected at parse
    time (Lucene's repeats handling is a documented non-goal)."""
    field: str
    terms: tuple  # tuple[str, ...]
    boost: float = 1.0
    slop: int = 0


@dataclass(frozen=True)
class Prefix:
    """Lucene classic `term*` PrefixQuery. Executors must rewrite it via
    :func:`expand_prefixes` before evaluation (the expansion needs a term
    dictionary, which the parser doesn't have)."""
    field: str
    text: str           # the prefix, analyzer-lowercased
    boost: float = 1.0


@dataclass(frozen=True)
class Fuzzy:
    """Lucene classic `term~` / `term~1` FuzzyQuery. Expanded via
    :func:`expand_prefixes` like Prefix. Deviation (documented): edit
    distance is plain Levenshtein — transpositions cost 2, where Lucene
    defaults to Damerau (cost 1) — so the DuckDB oracle's levenshtein()
    reproduces the expansion set exactly."""
    field: str
    text: str
    max_edits: int = 2
    boost: float = 1.0


def levenshtein(a: str, b: str, cap: int = 1 << 30) -> int:
    """Plain Levenshtein with an early-exit cap (returns cap+1 when the
    distance provably exceeds cap)."""
    if abs(len(a) - len(b)) > cap:
        return cap + 1
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        best = i
        for j, cb in enumerate(b, 1):
            v = min(prev[j] + 1, cur[j - 1] + 1,
                    prev[j - 1] + (ca != cb))
            cur.append(v)
            if v < best:
                best = v
        if best > cap:
            return cap + 1
        prev = cur
    return prev[-1]


@dataclass(frozen=True)
class MatchAll:
    """Lucene classic `*:*` (MatchAllDocsQuery). First-class in the
    BOOLEAN plane (percolator matching, NOT/AND algebra); in the scored
    plane it is a constant-score filter clause contributing 0.0 to BM25
    sums (documented deviation: Lucene adds boost*1.0), so `*:* AND x`
    ranks by x's score and bare `*:*` returns docs in ordinal order."""
    boost: float = 1.0


@dataclass(frozen=True)
class Wildcard:
    """Lucene classic WildcardQuery (`te?t` / `t*st` / `*est`): `?` = one
    character, `*` = any run (including empty). Expanded via
    :func:`expand_prefixes` like Prefix. Like Lucene, the pattern is
    lowercased but NOT analyzed. A leading wildcard scans the field's
    whole term dictionary (Lucene warns about exactly this); a literal
    prefix prunes the scan to its range."""
    field: str
    pattern: str
    boost: float = 1.0


@dataclass(frozen=True)
class TermRange:
    """Lucene classic TermRangeQuery `field:[a TO b]` (inclusive) /
    `{a TO b}` (exclusive); `*` for an open bound. Bounds are lowercased
    but not analyzed (classic-parser behavior); expansion rewrites to an
    OR of the dictionary terms in range."""
    field: str
    lower: Optional[str]
    upper: Optional[str]
    include_lower: bool = True
    include_upper: bool = True
    boost: float = 1.0


@dataclass(frozen=True)
class Not:
    child: object


@dataclass(frozen=True)
class And:
    children: tuple


@dataclass(frozen=True)
class Must:
    """Lucene classic unary ``+`` (BooleanClause.Occur.MUST,
    `stage/MatchQuery.java:85-90` feeds the classic QP which accepts
    `+required`). Transparent for scoring (the child's terms score like
    any positive clause); in an Or clause list the must children are
    each required and the plain (SHOULD) children stop constraining the
    match. Standalone / inside And it is the identity wrapper."""
    child: object


@dataclass(frozen=True)
class Or:
    children: tuple


_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<lparen>\() |
        (?P<rparen>\)) |
        (?P<and>AND\b) |
        (?P<or>OR\b) |
        (?P<not>NOT\b) |
        (?P<minus>-) |
        (?P<plus>\+) |
        (?P<matchall>\*:\*(?:\^(?P<maboost>\d+(?:\.\d+)?))?) |
        (?P<fgroup>(?P<gfield>[A-Za-z_][\w.]*):\() |
        (?P<range>(?:(?P<rfield>[A-Za-z_][\w.]*):)?(?P<ropen>[\[{])(?P<rbody>[^\]}]*)(?P<rclose>[\]}])(?:\^(?P<rboost>\d+(?:\.\d+)?))?) |
        (?P<phrase>(?:(?P<pfield>[A-Za-z_][\w.]*):)?"(?P<ptext>[^"]*)"(?:~(?P<pslop>\d+))?(?:\^(?P<pboost>\d+(?:\.\d+)?))?) |
        (?P<term>(?:(?P<tfield>[A-Za-z_][\w.]*):)?(?P<ttext>[^\s()":^]+)(?:\^(?P<tboost>\d+(?:\.\d+)?))?)
    )""",
    re.VERBOSE,
)


class QueryParseError(ValueError):
    pass


def _lex(q: str):
    pos, out = 0, []
    while pos < len(q):
        m = _TOKEN_RE.match(q, pos)
        if not m:
            if q[pos:].strip() == "":
                break
            raise QueryParseError(f"cannot lex query at {pos}: {q[pos:]!r}")
        pos = m.end()
        out.append(m)
    return out


class _Parser:
    def __init__(self, tokens, default_field: str):
        self.toks = tokens
        self.i = 0
        self.default_field = default_field

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def parse_or(self):
        children = [self.parse_and()]
        while True:
            t = self.peek()
            if t is None:
                break
            if t.group("or"):
                self.next()
                children.append(self.parse_and())
            elif t.group("rparen"):
                break
            else:
                # juxtaposition: Lucene's default operator is OR
                children.append(self.parse_and())
        return Or(tuple(children)) if len(children) > 1 else children[0]

    def parse_and(self):
        left = self.parse_unary()
        children = [left]
        while True:
            t = self.peek()
            if t is not None and t.group("and"):
                self.next()
                children.append(self.parse_unary())
            else:
                break
        return And(tuple(children)) if len(children) > 1 else children[0]

    def parse_unary(self):
        t = self.peek()
        if t is None:
            raise QueryParseError("unexpected end of query")
        if t.group("minus") or t.group("not"):
            self.next()
            return Not(self.parse_unary())
        if t.group("plus"):
            self.next()
            child = self.parse_unary()
            # +-x / +NOT x: a required prohibition is just the
            # prohibition (Lucene flattens it the same way)
            return child if isinstance(child, Not) else Must(child)
        return self.parse_atom()

    def parse_atom(self):
        t = self.next()
        if t is None:
            raise QueryParseError("unexpected end of query")
        if t.group("lparen"):
            node = self.parse_or()
            closing = self.next()
            if closing is None or not closing.group("rparen"):
                raise QueryParseError("missing )")
            return node
        if t.group("matchall"):
            return MatchAll(float(t.group("maboost") or 1.0))
        if t.group("fgroup"):
            # field grouping `field:(a OR b)` — the classic parser
            # distributes the field over the group's bare terms
            saved = self.default_field
            self.default_field = t.group("gfield")
            try:
                node = self.parse_or()
            finally:
                self.default_field = saved
            closing = self.next()
            if closing is None or not closing.group("rparen"):
                raise QueryParseError("missing ) in field group")
            return node
        if t.group("range"):
            fieldname = t.group("rfield") or self.default_field
            boost = float(t.group("rboost") or 1.0)
            body = t.group("rbody").strip()
            parts = re.split(r"\s+TO\s+", body)
            if len(parts) != 2 or not parts[0] or not parts[1]:
                raise QueryParseError(
                    f"malformed range {t.group('range')!r} "
                    "(expected [lower TO upper])")
            lo = None if parts[0] == "*" else parts[0].lower()
            hi = None if parts[1] == "*" else parts[1].lower()
            return TermRange(fieldname, lo, hi,
                             include_lower=t.group("ropen") == "[",
                             include_upper=t.group("rclose") == "]",
                             boost=boost)
        if t.group("phrase"):
            fieldname = t.group("pfield") or self.default_field
            boost = float(t.group("pboost") or 1.0)
            slop = int(t.group("pslop") or 0)
            terms = tuple(tokenize_py(t.group("ptext")))
            if not terms:
                raise QueryParseError("empty phrase")
            if len(terms) == 1:
                return Term(fieldname, terms[0], boost)
            if slop and len(set(terms)) != len(terms):
                raise QueryParseError(
                    "sloppy phrases with repeated terms are unsupported "
                    f"({t.group('ptext')!r}~{slop})")
            return Phrase(fieldname, terms, boost, slop)
        if t.group("term"):
            fieldname = t.group("tfield") or self.default_field
            boost = float(t.group("tboost") or 1.0)
            raw = t.group("ttext")
            if "~" in raw:
                base, _, edits = raw.partition("~")
                if ("*" in raw or not base or "~" in edits
                        or edits not in ("", "1", "2")):
                    raise QueryParseError(
                        f"unsupported fuzzy pattern {raw!r} "
                        "(term~ / term~1 / term~2)")
                return Fuzzy(fieldname, base.lower(),
                             int(edits) if edits else 2, boost)
            if "*" in raw or "?" in raw:
                # Lucene's classic parser lowercases wildcard terms but
                # does NOT run the analyzer chain over them
                low = raw.lower()
                if low.endswith("*") and "*" not in low[:-1] \
                        and "?" not in low and len(low) > 1:
                    # trailing-star only -> PrefixQuery (cheaper range
                    # scan, no pattern match needed)
                    return Prefix(fieldname, low[:-1], boost)
                if set(low) <= {"*", "?"} and "?" not in low:
                    raise QueryParseError(
                        f"pure-wildcard pattern {raw!r} matches everything"
                        " (use a MatchAll/filter instead)")
                return Wildcard(fieldname, low, boost)
            toks = tokenize_py(raw)
            if not toks:
                raise QueryParseError(f"term analyzes to nothing: {t.group('ttext')!r}")
            if len(toks) == 1:
                return Term(fieldname, toks[0], boost)
            # a raw token that analyzes to multiple terms (e.g. "foo-bar")
            # becomes a phrase, matching Lucene classic parser behavior
            return Phrase(fieldname, tuple(toks), boost)
        raise QueryParseError(f"unexpected token {t.group()!r}")


def parse(query: str, default_field: str = DEFAULT_FIELD):
    """Parse a query string into the AST."""
    toks = _lex(query)
    if not toks:
        raise QueryParseError("empty query")
    p = _Parser(toks, default_field)
    node = p.parse_or()
    if p.peek() is not None:
        raise QueryParseError(f"trailing input from token {p.i}")
    return node


def expand_prefixes(node, expander, max_expansions: int = 128,
                    fuzzy_expander=None, wildcard_expander=None,
                    range_expander=None):
    """Rewrite every multi-term node (:class:`Prefix` / :class:`Fuzzy` /
    :class:`Wildcard` / :class:`TermRange`) into an OR of Terms over the
    matching dictionary terms (MultiTermQuery.SCORING_BOOLEAN_REWRITE —
    each expanded term BM25-scores with the multi-term node's boost),
    term-ascending so float summation order is deterministic.
    ``expander(field, prefix)`` serves Prefix;
    ``fuzzy_expander(field, text, max_edits)`` serves Fuzzy (its result is
    pre-capped by closest-first selection, then re-sorted by term here);
    ``wildcard_expander(field, pattern)`` serves Wildcard;
    ``range_expander(field, lower, upper, include_lower, include_upper)``
    serves TermRange. Expansions cap at ``max_expansions`` (Lucene's
    boolean rewrite throws TooManyClauses at 1024; ours truncates,
    documented). A node matching nothing rewrites to a term that cannot
    exist in the index (`\\x00` is outside the analyzer alphabet): matches
    and scores nothing."""

    def as_terms(terms, field, boost, text):
        terms = sorted(terms)
        if not terms:
            return Term(field, text + "\x00", boost)
        if len(terms) == 1:
            return Term(field, terms[0], boost)
        return Or(tuple(Term(field, t, boost) for t in terms))

    if isinstance(node, Prefix):
        return as_terms(sorted(expander(node.field,
                                        node.text))[:max_expansions],
                        node.field, node.boost, node.text)
    if isinstance(node, Fuzzy):
        if fuzzy_expander is None:
            raise ValueError("fuzzy query needs a fuzzy_expander")
        return as_terms(fuzzy_expander(node.field, node.text,
                                       node.max_edits),
                        node.field, node.boost, node.text)
    if isinstance(node, Wildcard):
        if wildcard_expander is None:
            raise ValueError("wildcard query needs a wildcard_expander")
        return as_terms(
            sorted(wildcard_expander(node.field,
                                     node.pattern))[:max_expansions],
            node.field, node.boost, node.pattern.replace("*", "").replace(
                "?", ""))
    if isinstance(node, TermRange):
        if range_expander is None:
            raise ValueError("range query needs a range_expander")
        return as_terms(
            sorted(range_expander(node.field, node.lower, node.upper,
                                  node.include_lower,
                                  node.include_upper))[:max_expansions],
            node.field, node.boost, node.lower or "")
    kw = dict(fuzzy_expander=fuzzy_expander,
              wildcard_expander=wildcard_expander,
              range_expander=range_expander)
    if isinstance(node, Not):
        return Not(expand_prefixes(node.child, expander, max_expansions,
                                   **kw))
    if isinstance(node, Must):
        return Must(expand_prefixes(node.child, expander, max_expansions,
                                    **kw))
    if isinstance(node, And):
        return And(tuple(expand_prefixes(c, expander, max_expansions, **kw)
                         for c in node.children))
    if isinstance(node, Or):
        return Or(tuple(expand_prefixes(c, expander, max_expansions, **kw)
                        for c in node.children))
    return node


def positive_terms(node) -> List[Term]:
    """All non-negated Terms/Phrase-terms (the ones that contribute score)."""
    out: List[Term] = []

    def walk(n, negated: bool):
        if isinstance(n, Term):
            if not negated:
                out.append(n)
        elif isinstance(n, Phrase):
            if not negated:
                out.extend(Term(n.field, t, n.boost) for t in n.terms)
        elif isinstance(n, Not):
            walk(n.child, not negated)
        elif isinstance(n, Must):
            walk(n.child, negated)
        elif isinstance(n, (And, Or)):
            for c in n.children:
                walk(c, negated)

    walk(node, False)
    # dedupe preserving order
    seen, res = set(), []
    for t in out:
        if t not in seen:
            seen.add(t)
            res.append(t)
    return res
