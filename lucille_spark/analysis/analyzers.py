"""Analyzers: identical tokenization on index side, query side, and oracle.

The reference's analysis contract is Lucene's ``StandardAnalyzer``
(lowercase, word-boundary split, no stemming/stopwords by default) — see
``/root/reference/lucille-core/src/main/java/com/kmwllc/lucille/stage/MatchQuery.java:81``.
We implement the same contract three ways that are kept in exact lockstep
(one shared regex), because the correctness gate compares a Spark plan
against a DuckDB oracle:

- :func:`tokenize_col`   — Spark Column expression (JVM-side, codegen'd; the
  hot path — no Python in the loop).
- :func:`tokenize_py`    — pure-Python, used by the NumPy BM25 oracle.
- :func:`duckdb_tokens_sql` — SQL snippet for the DuckDB oracle.

The ``standard`` analyzer lowercases then splits on runs of characters
outside ``[a-z0-9_]`` — a faithful ASCII-range approximation of Lucene's
UAX#29 segmentation (underscore joins words in UAX#29 via ExtendNumLet,
which is why ``_`` stays inside tokens: ``ident_foo`` is one term, matching
how a code corpus wants identifiers kept whole).

Spark lowercases an all-ASCII string byte by byte; any other string goes
through the JVM's ``String.toLowerCase()`` in the default locale, because
the engine's sessions switch ICU case mapping off (``session.py``). Only
letters whose lowercase is ASCII can change a token: ``İ`` (to ``i`` plus
a combining dot) and the Kelvin sign (to ``k``). Under ``en_US`` that
matches Python's ``str.lower()`` on the fixtures of
``tests/test_case_mapping.py`` (``İstanbul``, the Kelvin sign, a final
sigma, ``ẞ``, ``ﬀ``, ``Ǆ``). A Turkic default locale would lower ``I``
to the dotless ``ı`` in any string that is not all ASCII, which splits
the token there.

A ``code`` analyzer additionally splits camelCase / snake_case identifiers
into sub-tokens while keeping the original (useful for source-code search);
it is opt-in and kept out of oracle-parity tests.
"""

from __future__ import annotations

import re
from typing import Callable, List

from pyspark.sql import Column
from pyspark.sql import functions as F

# single source of truth for the standard analyzer: tokens are maximal runs
# of [a-z0-9_] in the lowercased text. Expressed as regexp_extract_all (find
# matches) rather than split-on-complement: identical token streams, but
# 18x faster in Spark's JVM regex engine (split materializes empty-string
# garbage and backtracks; extract_all scans linearly).
TOKEN_PATTERN = "[a-z0-9_]+"
_PY_TOKEN = re.compile(TOKEN_PATTERN)
_CAMEL = re.compile(r"(?<=[a-z0-9])(?=[A-Z])|(?<=[A-Z])(?=[A-Z][a-z])|_")


def tokenize_col(col: Column) -> Column:
    """text column -> array<string> of tokens, entirely JVM-side."""
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_PATTERN), 0)


def tokenize_py(text: str) -> List[str]:
    """Reference tokenizer for the pure-Python oracle (same contract)."""
    if text is None:
        return []
    return _PY_TOKEN.findall(text.lower())


def duckdb_tokens_sql(expr: str) -> str:
    """DuckDB SQL producing the identical token array for a text expression."""
    return f"regexp_extract_all(lower({expr}), '{TOKEN_PATTERN}')"


def tokenize_code_col(col: Column) -> Column:
    """``code`` analyzer, entirely JVM-side: standard tokens + camelCase /
    snake_case sub-tokens appended for identifiers that split into >1 part
    (so ``getUserName`` is findable as get/user/name AND getusername).
    Sub-tokens occupy positions after the document's base tokens — phrase
    queries operate on the base token stream only."""
    raw = F.regexp_extract_all(col, F.lit("[A-Za-z0-9_]+"), 0)
    # insert spaces at case boundaries + underscores, then split
    parts = lambda t: F.filter(  # noqa: E731
        F.split(F.lower(F.regexp_replace(F.regexp_replace(
            t, "(?<=[a-z0-9])(?=[A-Z])|(?<=[A-Z])(?=[A-Z][a-z])", " "),
            "_", " ")), " "),
        lambda x: x != F.lit(""))
    subs = F.flatten(F.transform(
        raw, lambda t: F.when(F.size(parts(t)) > 1, parts(t))
        .otherwise(F.array().cast("array<string>"))))
    return F.concat(tokenize_col(col), subs)


def tokenizer(name: str) -> Callable[[Column], Column]:
    """The Spark tokenizer of analyzer ``name``: ``standard`` or ``code``.
    Any other name raises ValueError, so no index records an analyzer it
    was not built with."""
    if name not in ("standard", "code"):
        raise ValueError(f"unknown analyzer {name!r}: standard or code")
    return tokenize_code_col if name == "code" else tokenize_col


def code_subtokens_py(token: str) -> List[str]:
    """camelCase/snake_case sub-token split for the opt-in ``code`` analyzer."""
    subs = [s.lower() for s in _CAMEL.split(token) if s]
    return subs if len(subs) > 1 else []


def tokenize_code_py(text: str) -> List[str]:
    """``code`` analyzer: standard tokens + identifier sub-tokens appended."""
    base = tokenize_py(text)
    out = list(base)
    for raw in re.findall(r"[A-Za-z0-9_]+", text or ""):
        out.extend(code_subtokens_py(raw))
    return out
