"""The postings block payload: the one module that knows how a block's
``doc_gaps``, ``tfs`` and ``positions`` are coded (NumPy, no per-element
Python).

Delta-encoded docID gaps + variable-byte (VByte) coding, the classic
inverted-index block format (Manning/Raghavan/Schuetze IR ch.5; same family
Lucene uses for its postings). The reference (kmwtechnology/lucille) delegates
this to Lucene inside Solr/ES — here it is built from scratch
(SURVEY.md §0, §4.3.2).

VByte layout: each uint64 is emitted little-endian in 7-bit groups; the high
bit of a byte is 1 on every byte except the last byte of a value ("more"
flag inverted relative to some conventions — the *terminator* byte has
high bit 0).

Payload layout, per block:
  doc_gaps   the block's doc ordinals as restart deltas
             (:func:`restart_deltas`): the first absolute, then gaps
  tfs        the block's tfs, as they are
  positions  each doc's positions as restart deltas, the doc's first
             position absolute; the stream holds no per-doc count, since
             that count is the doc's tf, stored in ``tfs``
each vbyte-coded. Every stream restarts at its block's head, so a run
of blocks decodes in one pass (:func:`decode_segments`, then
:func:`restart_sums` with the blocks' n_docs or the tfs as counts).

The builder's encode kernel codes a whole Arrow batch of blocks with one
:func:`encode_segments` per column; the reader decodes a term's blocks
with one :func:`decode_segments` per column.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def vbyte_nbytes(values: np.ndarray) -> np.ndarray:
    """Encoded byte length per value (vectorized): ceil(bits(v)/7), min 1.
    :func:`encode_segments` cuts one :func:`vbyte_encode` result into
    segments with it: vbyte codes each value alone, so the concatenation
    of segment encodings equals the encoding of the concatenated values."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    return nbytes


def vbyte_encode(values: np.ndarray) -> bytes:
    """Encode a uint64 array to a VByte byte string (vectorized).

    Each value v is split into ceil(bits(v)/7) 7-bit groups, little-endian;
    all bytes carry the continuation high bit except the final byte.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # number of bytes needed per value: floor(log128(v)) + 1 (max 10)
    nbytes = vbyte_nbytes(v)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    # starting offset of each value's byte run
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    # for each byte slot, which value does it belong to and which group index?
    owner = np.repeat(np.arange(v.size), nbytes)
    pos_in_value = np.arange(total) - np.repeat(starts, nbytes)
    shifted = v[owner] >> (pos_in_value.astype(np.uint64) * np.uint64(7))
    chunk = (shifted & np.uint64(0x7F)).astype(np.uint8)
    is_last = pos_in_value == (nbytes[owner] - 1)
    out[:] = np.where(is_last, chunk, chunk | np.uint8(0x80))
    return out.tobytes()


def vbyte_decode(data: bytes) -> np.ndarray:
    """Decode a VByte byte string back to a uint64 array (vectorized)."""
    raw = np.frombuffer(data, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (raw & 0x80) == 0
    # value index for each byte: cumulative count of terminators before it
    value_idx = np.concatenate(([0], np.cumsum(is_last)[:-1]))
    n_values = int(is_last.sum())
    # position of byte within its value
    term_positions = np.flatnonzero(is_last)
    starts = np.concatenate(([0], term_positions[:-1] + 1))
    pos_in_value = np.arange(raw.size) - starts[value_idx]
    contrib = (raw & 0x7F).astype(np.uint64) << (
        pos_in_value.astype(np.uint64) * np.uint64(7)
    )
    out = np.zeros(n_values, dtype=np.uint64)
    np.add.at(out, value_idx, contrib)
    return out


def _heads(counts: np.ndarray) -> np.ndarray:
    """Index of the first value of each non-empty segment of ``counts``
    consecutive values."""
    counts = np.asarray(counts, dtype=np.int64)
    return (np.cumsum(counts) - counts)[counts > 0]


def restart_deltas(values: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """``values`` as gaps to the value before, restarting with the absolute
    value at the head of every segment; the segments are consecutive runs
    of ``counts`` values. Doc ordinals restart per block (counts: n_docs),
    positions per doc (counts: the tfs). uint64 arithmetic wraps, so any
    values survive :func:`restart_sums`."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    out = np.empty_like(v)
    if v.size:
        out[0] = v[0]
        np.subtract(v[1:], v[:-1], out=out[1:])
        heads = _heads(counts)
        out[heads] = v[heads]
    return out


def restart_sums(deltas: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Inverse of :func:`restart_deltas`: one cumsum over all segments,
    less the running sum before each segment's head."""
    d = np.ascontiguousarray(deltas, dtype=np.uint64)
    if d.size == 0:
        return d
    counts = np.asarray(counts, dtype=np.int64)
    sums = np.cumsum(d, dtype=np.uint64)
    heads = _heads(counts)
    return sums - np.repeat(sums[heads] - d[heads], counts[counts > 0])


def encode_segments(values: np.ndarray, counts: np.ndarray) -> pa.Array:
    """``values`` vbyte-coded, one binary per segment of ``counts``
    consecutive values (a zero count gives an empty binary): one encode
    for all segments, cut at their byte offsets without a per-row Python
    loop. Binary offsets are int32, so a payload that reaches 2 GiB raises
    OverflowError instead of wrapping."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    data = np.frombuffer(vbyte_encode(v), dtype=np.uint8)
    byte_off = np.concatenate(([0], np.cumsum(vbyte_nbytes(v))))
    ends = np.cumsum(counts, dtype=np.int64)
    offsets = byte_off[np.concatenate(([0], ends))]
    if offsets[-1] >= 1 << 31:
        raise OverflowError(
            f"binary payload of {int(offsets[-1])} bytes exceeds the int32 "
            "offsets of one Arrow batch")
    return pa.Array.from_buffers(
        pa.binary(), offsets.size - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)])


def decode_segments(segments) -> np.ndarray:
    """The values of a run of segments (a binary array or column), in
    order: the segments joined and vbyte-decoded in one call."""
    return vbyte_decode(b"".join(segments.to_pylist()))
