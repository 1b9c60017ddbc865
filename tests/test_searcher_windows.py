"""Adversarial top-k coverage: dense vocabulary (df ~ 0.5-0.9N) makes
most terms tie on most docs and keeps the k-th score tight — the regime
where block-max pruning bugs live (one was caught at sf0.1 by the gate:
a doc tied across terms was pruned on a single term's block max).

Randomized query sweep, windowed search vs one window vs the pure-Python
oracle.
"""

import math
import random

import pytest


@pytest.fixture(scope="module")
def dense_index(spark, tmp_path_factory):
    import numpy as np
    import pandas as pd

    from lucille_spark.index.builder import build_index

    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(18)]
    rows = []
    for i in range(400):
        n = int(rng.integers(10, 60))
        toks = [vocab[int(x)] for x in
                np.minimum(rng.exponential(4, n).astype(int), 17)]
        rows.append((f"org/r{i % 5}", f"src/f{i}.py", f"c{i // 40}",
                     "python", " ".join(toks)))
    pdf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang",
                                      "content"])
    out = str(tmp_path_factory.mktemp("dense") / "idx")
    build_index(spark.createDataFrame(pdf), out, fields=("content",),
                block_size=16, docs_per_salt=48)
    return out, pdf


@pytest.fixture(scope="module")
def dense_oracle(dense_index):
    import hashlib

    from lucille_spark.query.oracle import OracleIndex

    _, pdf = dense_index
    docs = []
    for _, r in pdf.iterrows():
        doc_id = hashlib.sha256(
            f"{r.repo}\x00{r.path}\x00{r.commit}".encode()).hexdigest()
        docs.append({"id": doc_id, "content": r.content})
    return OracleIndex(docs, fields=("content",))


def _queries():
    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(18)]
    qs = []
    for _ in range(40):
        n = rng.randint(1, 4)
        terms = rng.sample(vocab, n)
        op = rng.choice([" OR ", " AND "])
        qs.append(op.join(f"content:{t}" for t in terms))
    return qs


@pytest.mark.parametrize("k", [1, 3, 10, 50])
def test_dense_rank_identity(dense_index, dense_oracle, k):
    from lucille_spark.query.searcher import IndexSearcher

    searcher = IndexSearcher(dense_index[0])
    for q in _queries():
        got = searcher.search(q, k=k)
        want = dense_oracle.search(q, k=k)
        assert [d for d, _ in got] == [d for d, _ in want], (q, k)
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9), (q, k)


# a window budget that cuts every query of the sweep into many windows
SMALL_BUDGET = 40


def test_one_window_equals_windows(dense_index, monkeypatch):
    """search() scores a query in one window below VEC_POSTINGS_MAX and
    in block-bounded windows with skipping above it — both must return
    identical ranked hits (same docs, bit-equal scores). Force each over
    the same query sweep."""
    import lucille_spark.query.searcher as S

    for q in _queries():
        for k in (1, 10, 50):
            monkeypatch.setattr(S, "VEC_POSTINGS_MAX", 1 << 62)
            one = S.IndexSearcher(dense_index[0]).search(q, k=k)
            monkeypatch.setattr(S, "VEC_POSTINGS_MAX", SMALL_BUDGET)
            windowed = S.IndexSearcher(dense_index[0]).search(q, k=k)
            assert one == windowed, (q, k)


def test_small_budget_skips_windows_undecoded(dense_index, dense_oracle,
                                              monkeypatch):
    """At a small budget a term query is cut into many windows, and once
    k hits are held the windows whose block-max bound cannot beat the
    k-th score are skipped: never decoded. The answer still equals the
    one-window answer and the oracle's."""
    import lucille_spark.query.searcher as S

    q, k = "content:w3", 3
    one = S.IndexSearcher(dense_index[0]).search(q, k=k)
    monkeypatch.setattr(S, "VEC_POSTINGS_MAX", SMALL_BUDGET)
    searcher = S.IndexSearcher(dense_index[0])
    node = searcher._parse(q)
    n_windows = len(list(searcher._windows(node, [("content", "w3")])))
    decoded = []
    flat = searcher.reader.decode_term_flat

    def record(field, term, positions=True, blocks=None):
        decoded.append(blocks)
        return flat(field, term, positions, blocks)

    monkeypatch.setattr(searcher.reader, "decode_term_flat", record)
    got = searcher.search(q, k=k)
    assert n_windows > 3
    # one decode per evaluated window, each of that window's blocks only
    assert 0 < len(decoded) < n_windows
    n_blocks = searcher.reader.blocks("content", "w3").num_rows
    assert all(0 < b.num_rows < n_blocks for b in decoded)
    assert got == one
    want = dense_oracle.search(q, k=k)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9)
