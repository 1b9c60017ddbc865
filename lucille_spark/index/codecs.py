"""Vectorized posting-list compression codecs (NumPy, no per-element Python).

Delta-encoded docID gaps + variable-byte (VByte) coding, the classic
inverted-index block format (Manning/Raghavan/Schuetze IR ch.5; same family
Lucene uses for its postings). The reference (kmwtechnology/lucille) delegates
this to Lucene inside Solr/ES — here it is built from scratch
(SURVEY.md §0, §4.3.2).

VByte layout: each uint64 is emitted little-endian in 7-bit groups; the high
bit of a byte is 1 on every byte except the last byte of a value ("more"
flag inverted relative to some conventions — the *terminator* byte has
high bit 0).

Positions layout: per doc, its first position absolute, then gaps. The
stream holds no per-doc count: that count is the doc's tf, which the tfs
column already stores, and every decode passes the tfs back as ``lens``.

All encode/decode paths are vectorized NumPy so they can run inside Arrow
pandas UDFs without per-row Python overhead (BASELINE input_hint).
"""

from __future__ import annotations

import numpy as np

_MASKS = None


def vbyte_nbytes(values: np.ndarray) -> np.ndarray:
    """Encoded byte length per value (vectorized): ceil(bits(v)/7), min 1.
    Exposed so batch encoders can slice one big :func:`vbyte_encode` result
    into per-block segments without re-encoding (vbyte is per-value
    independent, so the concatenation of segment encodings equals the
    encoding of the concatenated values)."""
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


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Strictly-increasing uint64 ids -> first id + gaps (gap of first = id)."""
    a = np.ascontiguousarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return a
    out = np.empty_like(a)
    out[0] = a[0]
    np.subtract(a[1:], a[:-1], out=out[1:])
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    g = np.ascontiguousarray(gaps, dtype=np.uint64)
    return np.cumsum(g, dtype=np.uint64)


def encode_block_docs(doc_ords: np.ndarray) -> bytes:
    """Sorted doc ordinals -> delta+vbyte bytes."""
    return vbyte_encode(delta_encode(doc_ords))


def decode_block_docs(data: bytes) -> np.ndarray:
    return delta_decode(vbyte_decode(data))


def encode_block_tfs(tfs: np.ndarray) -> bytes:
    return vbyte_encode(np.asarray(tfs, dtype=np.uint64))


def decode_block_tfs(data: bytes) -> np.ndarray:
    return vbyte_decode(data)


def encode_positions_flat(flat: np.ndarray, lens: np.ndarray) -> bytes:
    """Delta-positions stream from a flat sorted-position array and per-doc
    lengths: each doc's positions restart with an absolute value, then
    gaps. The stream holds no per-doc length: those are the tfs, stored
    once in their own column, and every decode passes them back."""
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    flat = np.ascontiguousarray(flat, dtype=np.uint64)
    if flat.size == 0:
        return b""
    deltas = np.empty(flat.size, dtype=np.uint64)
    deltas[0] = flat[0]
    np.subtract(flat[1:], flat[:-1], out=deltas[1:])
    starts = (np.cumsum(lens) - lens)[lens > 0]
    deltas[starts] = flat[starts]  # absolute per doc
    return vbyte_encode(deltas)


def encode_positions(positions_per_doc: list) -> bytes:
    """Per-doc sorted position arrays -> delta-positions stream.

    Fully vectorized: one flat concatenation + segment-wise delta encoding
    (no per-doc NumPy calls). The index build does not call this: its
    encode kernel writes the same stream for a whole batch of blocks at
    once, and this per-block form is the reference the tests check."""
    lens = np.fromiter((len(p) for p in positions_per_doc), dtype=np.int64,
                       count=len(positions_per_doc))
    if int(lens.sum()) == 0:
        return b""
    flat = np.concatenate([np.asarray(p, dtype=np.uint64)
                           for p in positions_per_doc if len(p)])
    return encode_positions_flat(flat, lens)


def decode_positions_flat(data: bytes, lens: np.ndarray):
    """Inverse of encode_positions, vectorized -> (flat_positions, lens).
    ``lens`` are the per-doc position counts, i.e. the tfs stored beside
    the stream: one grouped cumsum undoes the per-doc restarts."""
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    deltas = vbyte_decode(data)
    if deltas.size == 0:
        return deltas, lens
    abs_ = np.cumsum(deltas, dtype=np.uint64)
    nz = lens > 0
    starts = (np.cumsum(lens) - lens)[nz]
    corr = np.repeat(abs_[starts] - deltas[starts], lens[nz])
    return abs_ - corr, lens


def decode_positions(data: bytes, lens: np.ndarray) -> list:
    """Inverse of encode_positions -> list of uint64 arrays, one per doc."""
    if len(lens) == 0:
        return []
    flat, lens = decode_positions_flat(data, lens)
    return np.split(flat, np.cumsum(lens)[:-1])
