"""The postings encode kernel, without Spark: fed a (term, salt)-sorted
occurrence table in small Arrow batches, it must encode every group whole
(carrying groups across batch edges) and its blocks, ordered by
(term, first_doc), must decode to the per-(term, salt, doc) truth computed
directly with NumPy. Blocks carry no doc lengths and no salt: their tfnorm
bounds must match the truth's dl, and their cuts the truth's salts."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from lucille_spark import BM25_B, BM25_K1
from lucille_spark.index import codecs
from lucille_spark.index.builder import POSTINGS_SCHEMA, _postings_encoder

BATCH = 7
BLOCK = 4


def _occurrences():
    rng = np.random.default_rng(7)
    rows = []
    for doc in range(60):
        dl = int(rng.integers(1, 25))
        for pos, t in enumerate(rng.zipf(1.4, dl) % 12):
            # the two hottest terms are split into doc-range salts
            salt = doc * 3 // 60 if t < 2 else 0
            rows.append((f"t{t:02d}", salt, doc, pos, dl))
    df = pd.DataFrame(rows, columns=["term", "salt", "doc_ord", "pos", "dl"])
    # sorted by (term, salt) only, like sortWithinPartitions: docs and
    # positions inside a group arrive shuffled
    df = (df.sample(frac=1.0, random_state=3)
          .sort_values(["term", "salt"], kind="stable")
          .reset_index(drop=True))
    return df.astype({"salt": "int32", "pos": "int32", "dl": "int32"})


def _truth(df):
    out = {}
    for (term, salt, doc), g in df.groupby(["term", "salt", "doc_ord"]):
        out.setdefault((term, salt), []).append(
            (doc, np.sort(g["pos"].to_numpy()), int(g["dl"].iat[0])))
    return out


def test_kernel_blocks_decode_to_truth():
    df = _occurrences()
    # some group must cross a batch edge, one of them three batches or more
    batch_of = np.arange(len(df)) // BATCH
    spans = df.assign(b=batch_of).groupby(["term", "salt"])["b"].nunique()
    assert (spans >= 2).any() and (spans >= 3).any()

    table = pa.Table.from_pandas(df, preserve_index=False)
    kernel = _postings_encoder(avgdl=10.0, block_size=BLOCK,
                             store_positions=True)
    got = pa.Table.from_batches(
        list(kernel(iter(table.to_batches(max_chunksize=BATCH))))
    ).to_pandas()

    truth = _truth(df)
    assert list(got.columns) == [
        c.split()[0] for c in POSTINGS_SCHEMA.split(", ")]
    assert (got["field"] == "content").all()
    got = got.sort_values(["term", "first_doc"])
    assert set(got["term"]) == {term for term, _ in truth}
    for term, blocks in got.groupby("term"):
        # a term's blocks cut every BLOCK docs of each of its salts
        want = [p for key in sorted(truth) if key[0] == term
                for p in truth[key]]
        assert list(blocks["n_docs"]) == [
            n for key in sorted(truth) if key[0] == term
            for n in np.diff(np.append(
                np.arange(0, len(truth[key]), BLOCK), len(truth[key])))]
        assert (blocks["first_doc"].to_numpy()[1:]
                > blocks["last_doc"].to_numpy()[:-1]).all()
        dl_of = {d: dl for d, _, dl in want}
        docs, tfs, positions = [], [], []
        for r in blocks.itertuples():
            # each block decodes alone: its streams restart at its head
            bdocs = codecs.restart_sums(codecs.vbyte_decode(r.doc_gaps),
                                        [r.n_docs]).astype(np.int64)
            btfs = codecs.vbyte_decode(r.tfs).astype(np.int64)
            flat = codecs.restart_sums(codecs.vbyte_decode(r.positions),
                                       btfs)
            assert bdocs.size == r.n_docs <= BLOCK
            assert (r.first_doc, r.last_doc) == (bdocs[0], bdocs[-1])
            bdls = np.array([dl_of[d] for d in bdocs], dtype=np.int64)
            tfnorm = btfs / (btfs + BM25_K1 * (1 - BM25_B + BM25_B * bdls
                                               / 10.0))
            assert r.block_max_tfnorm == tfnorm.max()
            assert r.bound_avgdl == 10.0
            docs += bdocs.tolist()
            tfs += btfs.tolist()
            positions += np.split(flat.astype(np.int64),
                                  np.cumsum(btfs)[:-1])
        assert docs == [d for d, _, _ in want]
        assert tfs == [p.size for _, p, _ in want]
        for got_p, (_, want_p, _) in zip(positions, want):
            np.testing.assert_array_equal(got_p, want_p)


def test_binary_offsets_past_int32_raise(monkeypatch):
    values = np.zeros(4, dtype=np.uint64)
    arr = codecs.encode_segments(values, [1, 3])
    assert arr.to_pylist() == [b"\x00", b"\x00" * 3]
    # three values that code to 1 GiB each, without allocating the bytes
    monkeypatch.setattr(codecs, "vbyte_encode", lambda v: b"\x00" * v.size)
    monkeypatch.setattr(codecs, "vbyte_nbytes",
                        lambda v: np.full(v.size, 1 << 30, np.int64))
    with pytest.raises(OverflowError):
        codecs.encode_segments(values[:3], [1, 2])
