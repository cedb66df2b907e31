"""Delta-gap + varint posting-block codec (numpy-vectorized).

The reference delegates posting storage to Lucene 4.10's default codec;
we implement our own block codec because the postings live in Parquet
``binary`` columns and are decoded inside Arrow-batched Python kernels.
Layout per block (≤ BLOCK_SIZE postings of one term, docids strictly
increasing):

  first_docid : int64  (column, uncompressed — needed for block skipping)
  count       : int32  (column)
  doc_gaps    : binary — LEB128 varints of docid[i] - docid[i-1], i ≥ 1
                (count-1 values; docid[0] == first_docid)
  tfs         : binary — LEB128 varints of tf[i] - 1 (count values; tf ≥ 1)
  block_max_tf / block_max_score : per-block metadata for block-max WAND

Both encode and decode are O(bytes) with no per-value Python loop:
encode scatters the 7-bit groups of all values in ≤10 vector passes;
decode gathers them back in one pass per byte position (one pass when
every value fits a byte, the common case for gaps, tfs and lengths).
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def varint_lengths(values: np.ndarray) -> np.ndarray:
    """Encoded byte length of each value (vectorized)."""
    v = np.asarray(values).astype(np.uint64, copy=False)
    nb = np.ones(v.size, dtype=np.int64)
    for shift in range(7, 64, 7):
        nb += (v >= (np.uint64(1) << np.uint64(shift))).astype(np.int64)
    return nb


def encode_varints(values: np.ndarray) -> bytes:
    """LEB128-encode a 1-D array of non-negative int64/uint64 values."""
    v = np.asarray(values).astype(np.uint64, copy=False)
    if v.size == 0:
        return b""
    # bytes needed per value: one 7-bit group minimum, +1 per set group above
    nb = varint_lengths(v)
    ends = np.cumsum(nb)
    starts = ends - nb
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for j in range(int(nb.max())):
        mask = nb > j
        byte = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nb[mask] - 1 > j).astype(np.uint8) << 7
        out[starts[mask] + j] = byte.astype(np.uint8) | cont
    return out.tobytes()


def decode_varints(data: bytes, count: int | None = None) -> np.ndarray:
    """Decode LEB128 bytes back to an int64 array."""
    buf = np.frombuffer(data, dtype=np.uint8)
    ends = np.flatnonzero(buf < 0x80)  # the last byte of each value
    if ends.size == buf.size:
        out = buf.astype(np.int64)  # every value fits one byte
    else:
        if ends.size == 0 or ends[-1] != buf.size - 1:
            raise ValueError("varint stream ends inside a value")
        starts = np.empty_like(ends)
        starts[0] = 0
        starts[1:] = ends[:-1] + 1
        lens = ends - starts + 1
        vals = (buf[starts] & 0x7F).astype(np.uint64)
        for j in range(1, int(lens.max())):
            m = np.flatnonzero(lens > j)
            vals[m] |= (buf[starts[m] + j] & 0x7F).astype(np.uint64) << (
                np.uint64(7 * j)
            )
        out = vals.astype(np.int64)
    if count is not None and out.size != count:
        raise ValueError(f"decoded {out.size} values, expected {count}")
    return out


def decode_zigzag(data: bytes, count: int | None = None) -> np.ndarray:
    """Decode a zigzag-varint stream (signed ints — the doc-values
    encoding; encoder in indexer._make_block_encoder)."""
    v = decode_varints(data, count).astype(np.uint64)
    return ((v >> np.uint64(1)) ^ (np.uint64(0) - (v & np.uint64(1)))).astype(
        np.int64
    )


def encode_positions(flat_positions: np.ndarray, tfs: np.ndarray) -> bytes:
    """Encode the positions stream of one block.

    ``flat_positions`` concatenates each posting's (nondecreasing)
    token positions in docid order; ``tfs`` gives each posting's count.
    Per posting the first position is absolute and the rest are deltas —
    the same delta-gap + LEB128 machinery as docids.  Nondecreasing (not
    strictly increasing) because a position filter with increment 0
    legitimately stacks tokens at one position (gaps of 0 encode fine)."""
    f = np.asarray(flat_positions, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    if f.size != int(tfs.sum()):
        raise ValueError("positions length must equal sum(tfs)")
    if f.size == 0:
        return b""
    d = f.copy()
    d[1:] -= f[:-1]
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    d[starts] = f[starts]  # first position of each posting is absolute
    return encode_varints(d)


def decode_positions(data: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of :func:`encode_positions` — returns the flat positions
    array (split points are cumsum(tfs))."""
    tfs = np.asarray(tfs, dtype=np.int64)
    n = int(tfs.sum())
    d = decode_varints(data, n)
    if n == 0:
        return d
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    # cumsum with resets at posting starts: subtract each posting's
    # carried-in prefix so the absolute first value anchors its run
    c = np.cumsum(d)
    prefix = np.zeros(n, dtype=np.int64)
    prefix[starts[1:]] = c[starts[1:] - 1]
    return c - np.maximum.accumulate(prefix)


def encode_block(docids: np.ndarray, tfs: np.ndarray) -> tuple[int, int, bytes, bytes]:
    """Encode one posting block. docids must be strictly increasing."""
    docids = np.asarray(docids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    gaps = np.diff(docids)
    if gaps.size and gaps.min() <= 0:
        raise ValueError("docids must be strictly increasing within a block")
    return (
        int(docids[0]),
        int(docids.size),
        encode_varints(gaps),
        encode_varints(tfs - 1),
    )


def decode_block(
    first_docid: int, count: int, doc_gaps: bytes, tfs: bytes
) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`encode_block`."""
    gaps = decode_varints(doc_gaps, count - 1)
    docids = np.empty(count, dtype=np.int64)
    docids[0] = first_docid
    if count > 1:
        np.cumsum(gaps, out=docids[1:])
        docids[1:] += first_docid
    tf = decode_varints(tfs, count) + 1
    return docids, tf


def decode_blocks_batch(
    firsts, counts, doc_gaps_list, tfs_list
) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY blocks in one vectorized pass — the per-block
    decode_block loop costs ~0.1 ms of Python/numpy call overhead per
    block (a block holds ≤128 postings, so the arrays are tiny), which
    dominates wide queries that touch thousands of blocks.  All blocks'
    varint streams concatenate into ONE decode (LEB128 values are
    self-delimiting), and docids reconstruct with a single cumsum over
    all blocks, rebased per block.  Returns (docids, tfs), rows in block
    order (docids sorted only within each block)."""
    counts = np.asarray(counts, dtype=np.int64)
    n = int(counts.sum())
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    starts = np.cumsum(counts) - counts
    arr = np.zeros(n, dtype=np.int64)
    mask = np.ones(n, dtype=bool)
    mask[starts] = False
    arr[mask] = decode_varints(b"".join(doc_gaps_list))
    cs = np.cumsum(arr)
    docids = cs + np.repeat(np.asarray(firsts, dtype=np.int64) - cs[starts],
                            counts)
    tf = decode_varints(b"".join(tfs_list)) + 1
    return docids, tf
