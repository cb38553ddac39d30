"""Posting-block codec: vectorized LEB128 varints + delta encoding.

Posting lists are stored as delta-encoded varint blobs in blocks of
``block_size`` docs, each block carrying min/max docid and a
BM25-ready ``block_max`` bound (the idf-free part of the score), so
query-time scans can skip blocks by docid range (conjunctions) or by
score bound (WAND-style top-k pruning).

Doc ids are treated as uint64 mod 2^64: deltas of a signed-ascending
docid sequence wrap around, and the cumulative-sum decode wraps back,
so negative xxhash64 ids cost at most one long varint per block.
"""

from __future__ import annotations

import numpy as np


def encode_varints_offsets(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a uint64 array (vectorized).

    Returns ``(buf, ends)``: the byte stream as a uint8 array plus the
    per-value *end* byte offset (value ``i`` occupies
    ``buf[ends[i-1]:ends[i]]``, with ``ends[-1] == len(buf)``), so a
    caller can encode many blocks in one call and slice out each
    block's bytes afterwards.
    """
    a = np.ascontiguousarray(a, dtype=np.uint64)
    if a.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    nb = np.ones(a.size, dtype=np.int64)
    for k in range(1, 10):
        nb += (a >= (np.uint64(1) << np.uint64(7 * k))).astype(np.int64)
    ends = np.cumsum(nb)
    starts = ends - nb
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    maxnb = int(nb.max())
    for k in range(maxnb):
        mask = nb > k
        vals = (a[mask] >> np.uint64(7 * k)).astype(np.uint64) & np.uint64(0x7F)
        cont = (nb[mask] > (k + 1)).astype(np.uint8) * np.uint8(0x80)
        out[starts[mask] + k] = vals.astype(np.uint8) | cont
    return out, ends


def encode_varints(a: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array (vectorized)."""
    buf, _ = encode_varints_offsets(a)
    return buf.tobytes()


def decode_varints(buf: bytes) -> np.ndarray:
    """Decode a LEB128 stream back to a uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    if is_end.all():
        # every value < 128 encodes as its own byte - the common case
        # for position deltas and tf streams; skip the offset walk
        return b.astype(np.uint64)
    ends = np.flatnonzero(is_end)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lens = ends - starts + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for k in range(int(lens.max())):
        mask = lens > k
        vals[mask] |= (
            b[starts[mask] + k].astype(np.uint64) & np.uint64(0x7F)
        ) << np.uint64(7 * k)
    return vals


def delta_encode(docids: np.ndarray) -> bytes:
    d = np.ascontiguousarray(docids).view(np.uint64)
    deltas = np.diff(d, prepend=np.uint64(0))
    return encode_varints(deltas)


def delta_decode(buf: bytes) -> np.ndarray:
    deltas = decode_varints(buf)
    return np.cumsum(deltas, dtype=np.uint64)


def encode_positions(pos_lists: list[list[int]]) -> bytes:
    """Concatenated per-doc position lists: [npos, delta positions...]."""
    flat: list[int] = []
    for ps in pos_lists:
        flat.append(len(ps))
        prev = 0
        for p in ps:
            flat.append(p - prev)
            prev = p
    return encode_varints(np.array(flat, dtype=np.uint64))


def decode_positions(buf: bytes, ndocs: int) -> list[list[int]]:
    """Per-doc position lists.  Position lists are tiny (tf ~ 1-3), so
    plain-Python accumulation beats per-doc NumPy calls."""
    vals = decode_varints(buf).tolist()
    out = []
    i = 0
    for _ in range(ndocs):
        n = vals[i]
        i += 1
        acc = 0
        lst = []
        for d in vals[i : i + n]:
            acc += d
            lst.append(acc)
        i += n
        out.append(lst)
    return out
