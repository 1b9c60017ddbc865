"""Property-based codec tests (hypothesis) — the round-trip invariants the
whole index format rests on (SURVEY.md §5: exhaustive property-tested
round-trips for the varbyte/delta codecs)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from lucille_spark.index import codecs

u64 = st.integers(min_value=0, max_value=2**64 - 1)


@settings(max_examples=200, deadline=None)
@given(st.lists(u64, max_size=300))
def test_vbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = codecs.vbyte_decode(codecs.vbyte_encode(arr))
    assert out.tolist() == vals


@settings(max_examples=200, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=2**62), max_size=300))
def test_delta_roundtrip_sorted(ids):
    arr = np.array(sorted(ids), dtype=np.uint64)
    out = codecs.delta_decode(codecs.delta_encode(arr))
    assert out.tolist() == sorted(ids)


@settings(max_examples=150, deadline=None)
@given(st.lists(
    st.lists(st.integers(min_value=0, max_value=2**31), max_size=40)
    .map(lambda xs: sorted(set(xs))),
    max_size=60))
def test_positions_roundtrip(poslists):
    data = codecs.encode_positions(poslists)
    tfs = np.array([len(p) for p in poslists], dtype=np.int64)
    back = codecs.decode_positions(data, tfs)
    assert [list(map(int, p)) for p in back] == poslists
    flat, lens = codecs.decode_positions_flat(data, tfs)
    assert lens.tolist() == [len(p) for p in poslists]
    assert flat.tolist() == [x for p in poslists for x in p]


@settings(max_examples=100, deadline=None)
@given(st.lists(st.sets(st.integers(0, 2**40), min_size=1, max_size=50),
                min_size=1, max_size=8))
def test_block_concat_gap_decode(per_block_ids):
    """The one-pass multi-block gap decode (grouped cumsum fix-up) must
    equal per-block decoding for any block partition of sorted ids."""
    blocks = [np.array(sorted(s), dtype=np.uint64) for s in per_block_ids]
    payloads = [codecs.encode_block_docs(b) for b in blocks]
    counts = np.array([len(b) for b in blocks], dtype=np.int64)
    gaps = codecs.vbyte_decode(b"".join(payloads))
    abs_ = np.cumsum(gaps, dtype=np.uint64)
    starts = np.cumsum(counts) - counts
    corr = np.repeat(abs_[starts] - gaps[starts], counts)
    docs = abs_ - corr
    expect = np.concatenate(blocks)
    assert docs.tolist() == expect.tolist()
