"""Posting-block codec: vectorized LEB128 varints, and the one block
decoder every reader of the index shares.

Posting lists are stored as delta-encoded varint blobs in blocks of
``block_size`` docs, each block carrying min/max docid and a
BM25-ready ``block_max`` bound (the idf-free part of the score), so
query-time scans can skip blocks by docid range (conjunctions) or by
score bound (WAND-style top-k pruning).  A block's ``positions`` blob
is the concatenation of its postings' ``[npos, delta positions...]``
varint runs.

Doc ids are treated as uint64 mod 2^64: deltas of a signed-ascending
docid sequence wrap around, and the cumulative-sum decode wraps back,
so negative xxhash64 ids cost at most one long varint per block.

:func:`decode_blocks` turns a whole Arrow batch of block rows back
into postings.  Queries, compaction, ``merge_epochs`` (which also
count the versions it drops), the ``decode_postings`` export and
``validate_index(deep=True)`` all decode through it, so a corrupt or
foreign block fails the same way on every reader.
"""

from __future__ import annotations

import numpy as np

from .tombstones import alive_mask

# the block columns decode_blocks reads (plus an optional ``epoch``)
BLOCK_COLS = (
    "bucket", "salt", "term", "n", "docids", "tfs", "doclens", "positions"
)


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


def _binary_parts(arr) -> tuple[np.ndarray, np.ndarray]:
    """(data bytes, int64 offsets) of an Arrow binary/string array,
    zero-copy: value ``i`` is ``data[offs[i]:offs[i + 1]]``."""
    n = len(arr)
    _, obuf, dbuf = arr.buffers()
    offs = np.frombuffer(obuf, np.int32, n + 1, arr.offset * 4)
    if dbuf is None:  # no value has a byte
        return np.empty(0, np.uint8), offs.astype(np.int64)
    return np.frombuffer(dbuf, np.uint8), offs.astype(np.int64)


def _gather_bytes(buf, starts, lens) -> tuple[np.ndarray, np.ndarray]:
    """Byte ranges ``buf[starts[i]:starts[i] + lens[i]]`` in the given
    order as ONE uint8 array (one fancy-index gather, no per-range
    objects), plus each range's end offset in it."""
    ends = np.cumsum(lens)
    total = int(ends[-1]) if ends.size else 0
    idx = np.repeat(starts - (ends - lens), lens) + np.arange(
        total, dtype=np.int64
    )
    return buf[idx], ends


def decode_blocks(rb, deleted=None, dead: set | None = None):
    """Decode a whole Arrow batch of block rows back to postings, in
    block order, without tombstoned (docid, epoch) versions; ``dead``,
    when given, collects those versions as (docid, epoch) pairs.  A
    batch without an ``epoch`` column is all epoch 0 (the batch
    layout).

    Each of the docid, tf and doclen columns is ONE varint decode over
    the batch's concatenated blobs, with per-block cumsum resets for
    the docid deltas.  Position blobs are not decoded: each posting's
    ``[npos, deltas...]`` byte range is found from the blobs' value-end
    bytes (:func:`gather_positions` decodes the ranges a caller asks
    for).  Tombstones are ONE ``alive_mask`` over every posting of the
    batch.

    Returns ``(blk, ids, tfs, dls, pstart, plen, pbuf)``: per posting
    its block row in ``rb``, int64 docid, tf and doclen, and the byte
    range of its position blob in the uint8 buffer ``pbuf``.  Callers
    gather the surviving position bytes with ONE :func:`_gather_bytes`.

    Blocks are checked before their bytes are trusted: every varint
    blob holds ``n`` values and ends on a value boundary, each
    posting's npos equals its tf, and the last posting closes the
    block's positions blob.  Every block this engine writes passes by
    construction; a foreign or corrupt block raises ``ValueError``
    naming it by whichever of bucket, salt and term the batch
    carries."""
    nb = rb.num_rows
    names = rb.schema.names
    ns = rb.column("n").to_numpy().astype(np.int64)
    blk = np.repeat(np.arange(nb, dtype=np.int64), ns)

    def fail(bad, what):
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            where = " ".join(
                f"{c}={rb.column(c)[i].as_py()!r}"
                for c in ("bucket", "salt", "term")
                if c in names
            )
            raise ValueError(f"corrupt posting block {where}: {what}")

    def blobs(col, want):
        """(uint8 stream, value-end byte indices) of a binary column
        whose blob i must hold ``want[i]`` whole varints."""
        data, offs = _binary_parts(rb.column(col))
        buf = data[offs[0] : offs[-1]]
        ends = offs[1:] - offs[0]
        vends = np.flatnonzero(buf < 0x80)
        got = np.diff(np.searchsorted(vends, ends), prepend=0)
        # a dangling continuation byte would glue onto the next blob's
        # first value without changing any count
        full = np.flatnonzero(ends > offs[:-1] - offs[0])
        open_ = np.zeros(nb, bool)
        open_[full] = buf[ends[full] - 1] >= 0x80
        fail((got != want) | open_, f"{col} is not the block's varints")
        return buf, vends

    def values(col):
        return decode_varints(blobs(col, ns)[0])

    ends_n = np.cumsum(ns)
    c = np.cumsum(values("docids"), dtype=np.uint64)
    # per-block delta -> absolute: the first delta of a block is its
    # absolute first docid, so subtract the running sum before it
    # (uint64 wraparound is the codec's documented arithmetic)
    off = np.concatenate((np.zeros(1, np.uint64), c))[ends_n - ns]
    ids = (c - np.repeat(off, ns)).view(np.int64)
    tfs = values("tfs").astype(np.int64)
    dls = values("doclens").astype(np.int64)

    # positions: posting p's values end at cv[p + 1] (npos + tf deltas)
    cv = np.concatenate(([0], np.cumsum(tfs + 1)))
    pbuf, vends = blobs("positions", cv[ends_n] - cv[ends_n - ns])
    pend = vends[cv[1:] - 1] + 1
    pstart = np.concatenate(([0], pend))[:-1]
    # npos == tf: decode only each posting's head varint
    head, _ = _gather_bytes(pbuf, pstart, vends[cv[:-1]] + 1 - pstart)
    bad = np.zeros(nb, bool)
    bad[blk[decode_varints(head) != tfs.astype(np.uint64)]] = True
    fail(bad, "a posting's npos differs from its tf")

    eps = (
        np.repeat(rb.column("epoch").to_numpy().astype(np.int64), ns)
        if "epoch" in names
        else None
    )
    keep = alive_mask(ids, deleted, eps)
    plen = pend - pstart
    if keep is None:
        return blk, ids, tfs, dls, pstart, plen, pbuf
    if dead is not None:
        gone = ~keep
        ep = eps[gone] if eps is not None else np.zeros(gone.sum(), np.int64)
        pairs = np.unique(np.column_stack((ids[gone], ep)), axis=0)
        dead.update(map(tuple, pairs.tolist()))
    return (
        blk[keep], ids[keep], tfs[keep], dls[keep], pstart[keep],
        plen[keep], pbuf,
    )


def gather_positions(pbuf, pstart, plen, npos) -> np.ndarray:
    """Absolute positions of the postings whose ``[npos, deltas...]``
    runs lie at ``pbuf[pstart[i]:pstart[i] + plen[i]]`` (as
    :func:`decode_blocks` returns them), concatenated in the given
    posting order: ONE byte gather and ONE varint decode, then a
    per-posting cumsum that skips each head ``npos`` value."""
    buf, _ = _gather_bytes(pbuf, pstart, plen)
    vals = decode_varints(buf).astype(np.int64)
    body = np.ones(vals.size, bool)
    body[np.cumsum(npos + 1) - (npos + 1)] = False
    c = np.cumsum(vals[body])
    # each posting's deltas restart from 0: subtract the running sum
    # before its first delta
    off = np.concatenate(([0], c))[np.cumsum(npos) - npos]
    return c - np.repeat(off, npos)
