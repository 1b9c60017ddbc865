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
    counts = [arr.size]
    out = codecs.restart_sums(codecs.restart_deltas(arr, counts), counts)
    assert out.tolist() == sorted(ids)


@settings(max_examples=150, deadline=None)
@given(st.lists(
    st.lists(st.integers(min_value=0, max_value=2**31), max_size=40)
    .map(lambda xs: sorted(set(xs))),
    max_size=60))
def test_positions_roundtrip(poslists):
    """Positions as one block's payload codes them: restart deltas per doc,
    the doc's tf as its count, no count in the stream."""
    tfs = np.array([len(p) for p in poslists], dtype=np.int64)
    flat_in = np.array([x for p in poslists for x in p], dtype=np.uint64)
    data = codecs.vbyte_encode(codecs.restart_deltas(flat_in, tfs))
    flat = codecs.restart_sums(codecs.vbyte_decode(data), tfs)
    assert flat.tolist() == [x for p in poslists for x in p]
    back = np.split(flat, np.cumsum(tfs)[:-1]) if len(poslists) else []
    assert [list(map(int, p)) for p in back] == poslists


@settings(max_examples=100, deadline=None)
@given(st.lists(st.sets(st.integers(0, 2**40), min_size=1, max_size=50),
                min_size=1, max_size=8))
def test_block_concat_gap_decode(per_block_ids):
    """The one-pass multi-block gap decode (:func:`codecs.restart_sums`
    over the joined block payloads) must equal per-block decoding for any
    block partition of sorted ids."""
    blocks = [np.array(sorted(s), dtype=np.uint64) for s in per_block_ids]
    payloads = [codecs.encode_segments(codecs.restart_deltas(b, [b.size]),
                                       [b.size])[0].as_py() for b in blocks]
    counts = np.array([len(b) for b in blocks], dtype=np.int64)
    for payload, b in zip(payloads, blocks):
        assert codecs.restart_sums(codecs.vbyte_decode(payload),
                                   [b.size]).tolist() == b.tolist()
    docs = codecs.restart_sums(codecs.vbyte_decode(b"".join(payloads)),
                               counts)
    assert docs.tolist() == np.concatenate(blocks).tolist()


@settings(max_examples=200, deadline=None)
@given(st.lists(st.lists(u64, max_size=20), max_size=30), st.data())
def test_restarted_segments_roundtrip(segments, data):
    """A value stream cut into segments (empty ones included), coded as
    the payload columns are: restart deltas, then one binary per segment.
    Every segment decodes alone, and so does any run of them, in one
    call."""
    counts = np.array([len(s) for s in segments], dtype=np.int64)
    values = [v for s in segments for v in s]
    binaries = codecs.encode_segments(
        codecs.restart_deltas(np.array(values, dtype=np.uint64), counts),
        counts)
    assert len(binaries) == len(segments)
    for blob, segment in zip(binaries.to_pylist(), segments):
        assert codecs.restart_sums(codecs.vbyte_decode(blob),
                                   [len(segment)]).tolist() == segment
    i = data.draw(st.integers(0, len(segments)))
    j = data.draw(st.integers(i, len(segments)))
    run = codecs.restart_sums(codecs.decode_segments(
        binaries.slice(i, j - i)), counts[i:j])
    assert run.tolist() == [v for s in segments[i:j] for v in s]
