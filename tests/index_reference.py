"""Reference implementations the index tests compare the library with:
plain per-doc and per-block Python, slow but easy to check by eye.

- ``pack_cell``: one cell payload from per-posting terms;
- ``reference_postings``: per-doc tokenize + dict aggregation, the
  postings a build must produce;
- ``decode_blocks_exact``: per-block decode of posting blocks with
  per-block tombstone masks, the postings compaction must recover;
- ``encoded_blocks``: the library encoder's posting blocks alone,
  for tests that compare blocks;
- the plain per-blob codec (``encode_varints``, ``delta_encode`` /
  ``delta_decode``, ``encode_positions`` / ``decode_positions``) the
  references encode and decode one blob at a time with.
"""

import numpy as np
import pyarrow as pa

from pg_cjk_parser_spark.index.build import _encode_cell_blocks, _pack_cell_idx
from pg_cjk_parser_spark.index.codec import (
    decode_varints,
    encode_varints_offsets,
)
from pg_cjk_parser_spark.index.tombstones import alive_mask
from pg_cjk_parser_spark.index.xxh64 import (
    pmod,
    spark_xxhash64_long,
    spark_xxhash64_str,
)


def encoded_blocks(batches, block_size: int):
    """The posting blocks ``build._encode_cell_blocks`` yields for
    packed cell batches, as Arrow batches, cell after cell."""
    for _, _, blocks, _ in _encode_cell_blocks(batches, block_size):
        yield from blocks


def encode_varints(a: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array (vectorized)."""
    buf, _ = encode_varints_offsets(a)
    return buf.tobytes()


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


def pack_cell(terms_b, docids, tfs, dls, poss) -> bytes:
    """Cell payload from per-posting UTF-8 terms: dedupes the term
    list in first-occurrence order and emits the wire format of
    ``build._pack_cell_idx``."""
    seen: dict[bytes, int] = {}
    tidx = np.empty(len(terms_b), np.int32)
    for i, t in enumerate(terms_b):
        tidx[i] = seen.setdefault(t, len(seen))
    return _pack_cell_idx(
        pa.array(list(seen), pa.binary()),
        tidx,
        np.array(docids, np.int64),
        np.array(tfs, np.int32),
        np.array(dls, np.int32),
        np.fromiter(map(len, poss), np.int32, len(poss)),
        b"".join(poss),
    )


def reference_postings(pdf, num_buckets, num_salts):
    """Per-doc dict aggregation of a (docid, text) frame:
    (bucket, salt) -> sorted [(term utf8, docid, tf, doclen, positions
    blob)]."""
    from pg_cjk_parser_spark.kernel.tokenizer import lexemes

    out = {}
    for docid, text in zip(pdf["docid"].tolist(), pdf["text"].tolist()):
        lex = lexemes(text) if text is not None else []
        if not lex:
            continue
        salt = pmod(spark_xxhash64_long(docid), num_salts)
        agg = {}
        for term, p_ in lex:
            agg.setdefault(term, []).append(p_)
        for term, ps in agg.items():
            bkt = pmod(spark_xxhash64_str(term), num_buckets)
            out.setdefault((bkt, salt), []).append(
                (
                    term.encode("utf-8", "surrogatepass"),
                    docid,
                    len(ps),
                    len(lex),
                    encode_positions([ps]),
                )
            )
    return {k: sorted(v) for k, v in out.items()}


def decode_blocks_exact(blocks, deleted=None):
    """Block rows (a pandas frame with an ``epoch`` column) decoded one
    block at a time, position lists included, minus the postings the
    tombstones ``deleted`` mask at the block's epoch:
    (bucket, salt) -> sorted [(term utf8, docid, tf, doclen, positions
    blob)]."""
    out = {}
    for r in blocks.itertuples(index=False):
        ids = delta_decode(r.docids).view(np.int64)
        tfs = decode_varints(r.tfs).astype(np.int64)
        dls = decode_varints(r.doclens).astype(np.int64)
        pos = decode_positions(r.positions, len(ids))
        assert len(tfs) == len(dls) == len(ids) == r.n
        assert [len(p) for p in pos] == tfs.tolist()
        alive = alive_mask(ids, deleted, int(r.epoch))
        acc = out.setdefault((r.bucket, r.salt), [])
        for k in range(len(ids)):
            if alive is None or alive[k]:
                acc.append(
                    (
                        r.term.encode("utf-8", "surrogatepass"),
                        int(ids[k]),
                        int(tfs[k]),
                        int(dls[k]),
                        encode_positions([pos[k]]),
                    )
                )
    return {k: sorted(v) for k, v in out.items() if v}
