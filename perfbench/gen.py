"""Seeded input generators: the corpus table, the query log and the delta
batches. Every function is a pure function of its arguments, so one seed
always yields the same inputs; the engine only ever sees what these return.

The corpus rows come from ``lucille_spark.corpus.corpus_pdf`` (the F1
source-code corpus), which is a pure function of the row index: a seed
selects a disjoint block of row indices, so each seed gets its own corpus.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from lucille_spark.corpus import VOCAB, corpus_pdf

# row-index block of a seed's base corpus; the delta draws fresh rows
# from the next block
ID_BLOCK = 1_000_000

# query shapes and their shares of the log
SHAPES = (
    ("term", 0.30), ("or2", 0.20), ("and2", 0.15), ("phrase", 0.10),
    ("and_not", 0.10), ("prefix", 0.05), ("fuzzy", 0.03),
    ("wildcard", 0.02), ("mlt", 0.05),
)
BLOCK = 100             # queries per block holding the shares exactly
IDENT_SHARE = 0.15      # share of drawn terms that are rare ident_* terms
ZIPF_S = 1.1            # popularity exponent over VOCAB ranks


def doc_id(repo: str, path: str, commit: str) -> str:
    """The engine's doc identity, sha256(repo\\x00path\\x00commit) in hex
    (``index.builder.add_doc_identity``)."""
    return hashlib.sha256(f"{repo}\x00{path}\x00{commit}".encode()).hexdigest()


def _base(seed: int) -> int:
    return (seed % 1_000_000 + 1) * 2 * ID_BLOCK


def corpus(seed: int, n_docs: int) -> pd.DataFrame:
    """The base corpus table: ``n_docs`` F1 rows owned by ``seed``."""
    return corpus_pdf(_base(seed) + np.arange(n_docs))


def marker(seed: int) -> str:
    """A term that only the new docs of the delta carry."""
    return f"zzmark_{seed}"


def delta(seed: int, n_base: int, n_new: int, n_upsert: int, n_delete: int):
    """One delta against the base corpus of ``seed``: ``(rows,
    delete_ids, new_ids)``. ``rows`` holds ``n_new`` fresh docs carrying
    the marker term, then ``n_upsert`` rows that reuse the identity of a
    base doc with new content; ``delete_ids`` are the doc ids of
    ``n_delete`` other base docs."""
    rng = np.random.default_rng([seed, 7])
    pick = rng.permutation(n_base)[:n_upsert + n_delete]
    base_rows = corpus(seed, n_base)
    rows = corpus_pdf(_base(seed) + ID_BLOCK + np.arange(n_new + n_upsert))
    new = rows.iloc[:n_new].copy()
    new["content"] = new["content"] + " " + marker(seed)
    up = base_rows.iloc[pick[:n_upsert]].copy()
    up["content"] = rows["content"].iloc[n_new:].to_numpy()
    gone = base_rows.iloc[pick[n_upsert:]]
    delete_ids = [doc_id(r, p, c) for r, p, c in
                  zip(gone["repo"], gone["path"], gone["commit"])]
    new_ids = [doc_id(r, p, c) for r, p, c in
               zip(new["repo"], new["path"], new["commit"])]
    return pd.concat([new, up], ignore_index=True), delete_ids, new_ids


def _terms(rng, n: int, max_rank: int = len(VOCAB)) -> list:
    """``n`` distinct terms: Zipf-popular VOCAB ranks, with IDENT_SHARE
    rare ``ident_*`` identifiers mixed in."""
    ranks = np.arange(1, max_rank + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    out = []
    while len(out) < n:
        if rng.random() < IDENT_SHARE:
            t = f"ident_{int(rng.integers(0, 20_000))}"
        else:
            t = VOCAB[int(rng.choice(max_rank, p=p))]
        if t not in out:
            out.append(t)
    return out


def _four_digit(rng) -> str:
    """A vocabulary term of the form termNNNN (ranks 1000-4999), Zipf
    weighted within that band: its prefix expands to ~11 terms."""
    r = 1000 + int(rng.zipf(1.5) % 4000)
    return VOCAB[r]


def query_log(seed: int, n: int) -> list:
    """``n`` (shape, query, terms) triples, in blocks of BLOCK queries
    that each hold the SHAPES shares exactly, shuffled within the block.
    ``terms`` lists the query's terms in order (for ``and_not`` the kept
    term, then the excluded one) and is empty for prefix, fuzzy and
    wildcard queries."""
    rng = np.random.default_rng([seed, 11])
    block = [s for s, share in SHAPES for _ in range(round(share * BLOCK))]
    shapes = []
    while len(shapes) < n:
        shapes += list(rng.permutation(block))
    log = []
    for shape in shapes[:n]:
        terms = []
        if shape == "term":
            terms = _terms(rng, 1)
            q = terms[0]
        elif shape == "or2":
            terms = _terms(rng, 2)
            q = " OR ".join(terms)
        elif shape == "and2":
            terms = _terms(rng, 2, max_rank=200)
            q = " AND ".join(terms)
        elif shape == "phrase":
            terms = _terms(rng, 2, max_rank=40)
            q = '"{} {}"'.format(*terms)
        elif shape == "and_not":
            terms = _terms(rng, 2, max_rank=200)
            q = "{} AND NOT {}".format(*terms)
        elif shape == "prefix":
            q = _four_digit(rng)[:-1] + "*"
        elif shape == "fuzzy":
            q = _four_digit(rng) + "~1"
        elif shape == "wildcard":
            t = _four_digit(rng)
            q = t[:5] + "?" + t[6:]
        else:  # mlt: MoreLikeThis-like 8-15 term disjunction
            terms = _terms(rng, int(rng.integers(8, 16)))
            q = " OR ".join(terms)
        log.append((str(shape), q, terms))
    return log
