"""Round-trip tests for the vbyte codec (SURVEY.md §5); the block payload
as a whole is property-tested in test_codecs_property."""

import numpy as np
import pytest

from lucille_spark.index import codecs


def _rng(seed):
    return np.random.default_rng(seed)


@pytest.mark.parametrize("seed", range(8))
def test_vbyte_roundtrip_random(seed):
    rng = _rng(seed)
    n = int(rng.integers(0, 5000))
    # mix magnitudes: small gaps, big ordinals, 64-bit extremes
    vals = np.concatenate([
        rng.integers(0, 128, n // 3 + 1).astype(np.uint64),
        rng.integers(0, 1 << 32, n // 3 + 1).astype(np.uint64),
        rng.integers(0, (1 << 63) - 1, n // 3 + 1).astype(np.uint64),
    ])
    rng.shuffle(vals)
    out = codecs.vbyte_decode(codecs.vbyte_encode(vals))
    np.testing.assert_array_equal(out, vals)


def test_vbyte_edges():
    for vals in ([], [0], [127], [128], [1 << 62], [2**64 - 1],
                 [0, 0, 0], [2**64 - 1] * 5):
        arr = np.array(vals, dtype=np.uint64)
        np.testing.assert_array_equal(
            codecs.vbyte_decode(codecs.vbyte_encode(arr)), arr)


def test_vbyte_encoding_is_compact():
    small = np.arange(1000, dtype=np.uint64) % 100
    assert len(codecs.vbyte_encode(small)) == 1000  # all < 128 → 1 byte each


def _roundtrip(values, counts):
    """Restart-delta ``values`` over segments of ``counts``, vbyte-code one
    binary per segment, and decode the run of them back."""
    values = np.asarray(values, dtype=np.uint64)
    binaries = codecs.encode_segments(
        codecs.restart_deltas(values, counts), counts)
    return codecs.restart_sums(codecs.decode_segments(binaries), counts)


@pytest.mark.parametrize("seed", range(4))
def test_delta_roundtrip(seed):
    rng = _rng(seed + 100)
    ids = np.unique(rng.integers(0, 1 << 40, 3000).astype(np.uint64))
    np.testing.assert_array_equal(_roundtrip(ids, [ids.size]), ids)


def test_block_docs_roundtrip():
    ids = np.array([3, 7, 8, 100, 10_000_000_000], dtype=np.uint64)
    blob = codecs.encode_segments(
        codecs.restart_deltas(ids, [ids.size]), [ids.size])[0].as_py()
    np.testing.assert_array_equal(
        codecs.restart_sums(codecs.vbyte_decode(blob), [ids.size]), ids)


def test_positions_roundtrip():
    pos = [[0, 5, 9], [2], [], [1, 2, 3, 1000]]
    tfs = np.array([len(p) for p in pos], dtype=np.int64)
    flat = [x for p in pos for x in p]
    data = codecs.vbyte_encode(codecs.restart_deltas(
        np.array(flat, dtype=np.uint64), tfs))
    back = np.split(codecs.restart_sums(codecs.vbyte_decode(data), tfs),
                    np.cumsum(tfs)[:-1])
    assert [list(map(int, p)) for p in back] == pos
