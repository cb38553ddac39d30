"""Distributed inverted-index build.

Pipeline (all DataFrame/Arrow; designed for 1000-executor scale):

1. **Tokenize + pack** (the expensive pass, one tokenizer run per
   doc; ``mapInPandas`` over :func:`_packed_postings_gen`): each map
   task aggregates its docs' postings in numpy and emits ONE packed
   binary row per (bucket, salt) cell per ~500k postings, so the
   shuffle moves cells, not postings.  ``bucket =
   pmod(xxhash64(term), B)`` (one vectorized hash over each batch's
   vocabulary) x ``salt = pmod(xxhash64(docid), S)``.  Head CJK
   bigrams are Zipf-heavy; the salt splits each term's postings into S
   docid-disjoint shards so no single reducer owns a head term.  The
   salt doubles as the query-time alignment unit: all terms' shard-s
   lists cover the same docid subset, so per-salt partitions can run
   local conjunctions/WAND without a docid shuffle.  Doc length rides
   along with every posting so scoring never joins on docid.
2. **Bucket shuffle**: ONE exchange that places bucket ``B`` on
   partition ``B % parts`` (``xxh64.cell_partition_key``), so all S
   salt cells of a bucket meet in one writer task and every task gets
   floor or ceil of B/parts buckets - hashing the key directly left
   reducers idle next to ones with 2x the cells.
3. **Block encode and write** (``mapInArrow``, index/streaming.py
   ``_write_cells`` over :func:`_encode_cell_blocks`): per (bucket,
   salt, term), docid-sorted blocks of ``block_size`` postings;
   delta+varint docids, varint tfs & doclens, per-doc delta-varint
   positions, per-block ``(max_tf, min_doclen, min/max docid)`` for
   block-max pruning.  Blocks are Arrow batches built from the varint
   buffers (:func:`_slice_blocks`), with no per-block Python objects
   and no pandas conversion, and the task writes each cell's blocks
   itself with pyarrow to ``postings/epoch=0/bucket=N/part-sS.parquet``
   (queries touch at most |q| buckets via directory pruning): blocks
   never go back to the JVM.
4. **Termstats and commit** of epoch 0 of the epoch protocol
   (index/streaming.py, ``_write_epoch`` - the same writer large
   appends and folds use): after a bucket's last cell, the same task
   sums the cells' per-term ``(df, cf)`` rows into
   ``termstats/epoch=0/bucket=N`` and the tasks return exact totals;
   then ``manifests/epoch=0.json`` carrying the totals and the corpus
   fingerprint, and LAST the snapshot commit: stats.json listing
   epoch 0.  A clean build first removes the previous index,
   tombstones included, so a crash before the commit serves nothing
   under stale stats; ``resume=True`` returns the stored stats once
   epoch 0 is complete for the same fingerprint and rebuilds
   otherwise.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

from .codec import _binary_parts, _gather_bytes, encode_varints_offsets

BLOCK_SCHEMA = (
    "bucket int, salt int, term string, block_id int, n int, "
    "min_docid long, max_docid long, docids binary, tfs binary, "
    "doclens binary, positions binary, max_tf int, min_dl int, "
    "sum_tf long"
)

DEFAULT_BUCKETS = 64
DEFAULT_SALTS = 4
DEFAULT_BLOCK = 128


def _atomic_json(path: str, obj: dict) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


PACKED_SCHEMA = "bucket int, salt int, payload binary"


def _pack_cell_idx(
    uterms, tidx, docids, tfs, dls, plens, pos_blob
) -> bytes:
    """Pack one (bucket, salt) cell's postings into a single blob,
    with the term VOCABULARY (``uterms``, an Arrow binary array of
    UTF-8 terms) stored once and an int32 index per posting (head CJK
    terms repeat across thousands of postings - per-posting term
    bytes measured ~30% of the cell shuffle volume, and re-ranking
    them cost a dict lookup per posting on the reduce side):

    [i64 n][i32 nuniq][docids 8n][tf 4n][doclen 4n][poslen 4n]
    [termidx 4n][utermlen 4nu][uterm utf8 blob][positions blob]
    """
    import struct

    ublob, uoffs = _binary_parts(uterms)
    return b"".join(
        (
            struct.pack("<qi", len(tidx), len(uterms)),
            np.ascontiguousarray(docids, np.int64).tobytes(),
            np.ascontiguousarray(tfs, np.int32).tobytes(),
            np.ascontiguousarray(dls, np.int32).tobytes(),
            np.ascontiguousarray(plens, np.int32).tobytes(),
            np.ascontiguousarray(tidx, np.int32).tobytes(),
            np.diff(uoffs).astype(np.int32).tobytes(),
            ublob[uoffs[0] : uoffs[-1]].tobytes(),
            pos_blob,
        )
    )


def _unpack_cell(buf: bytes):
    """Inverse of :func:`_pack_cell_idx`:
    (docids, tfs, doclens, plens, tidx, utermlens, uterm_blob,
    pos_blob)."""
    n = int(np.frombuffer(buf, np.int64, 1)[0])
    nu = int(np.frombuffer(buf, np.int32, 1, 8)[0])
    o = 12
    d = np.frombuffer(buf, np.int64, n, o); o += 8 * n
    t = np.frombuffer(buf, np.int32, n, o); o += 4 * n
    dl = np.frombuffer(buf, np.int32, n, o); o += 4 * n
    plen = np.frombuffer(buf, np.int32, n, o); o += 4 * n
    tidx = np.frombuffer(buf, np.int32, n, o); o += 4 * n
    utlen = np.frombuffer(buf, np.int32, nu, o); o += 4 * nu
    tb_end = o + int(utlen.sum())
    return d, t, dl, plen, tidx, utlen, buf[o:tb_end], buf[tb_end:]


def _merge_vocab(chunks):
    """Chunk vocabularies (Arrow binary arrays) -> (the merged
    vocabulary, deduplicated in first-occurrence order, and per chunk
    an int array mapping each entry to its merged index) - one
    dictionary encode (C hash) instead of a dict lookup per term."""
    enc = pa.concat_arrays(chunks).dictionary_encode()
    ix = enc.indices.to_numpy()
    bounds = np.cumsum([0] + [len(v) for v in chunks]).tolist()
    return enc.dictionary, [ix[a:b] for a, b in zip(bounds, bounds[1:])]


def _packed_postings_gen(batches, num_buckets, num_salts, flush_at=500_000,
                         normalize_zht: bool = False):
    """Map side of the packed shuffle: tokenize docs and emit ONE fat
    binary row per (bucket, salt) cell per ~flush_at postings, instead
    of one row per posting.  The Python<->JVM Arrow boundary is paid
    per *cell* (~B*S rows per flush), not per posting - at 10M postings
    the per-row boundary cost dominated the whole build.

    bucket/salt use numpy ports of Spark's xxhash64 (bit-identical to
    F.xxhash64; tests/test_xxh64.py, tests/test_vectorized_internals.py),
    so every index writer addresses the same shards as a Spark-side
    ``pmod(xxhash64(...))``.

    The post-tokenize aggregation is vectorized per Arrow batch: the
    batch's (term, position) pairs factorize to integer codes (C
    hash), one stable argsort on a (doc, code) key yields the per-doc
    term groups with positions in emission (= ascending) order, salts
    come from the vectorized xxh64 long lane, buckets from ONE
    vectorized xxh64 call over the batch vocabulary in Arrow string
    layout (a per-term scalar hash loop measured ~40% of map-side
    time), and one more stable argsort groups postings by cell.  The
    per-posting dict/append loop this replaces measured 72% of
    map-side time once the tokenizer had its own fast paths.  Each
    cell chunk keeps its slice of the batch vocabulary as an Arrow
    array, and flush merges a cell's chunks with one dictionary
    encode (:func:`_merge_vocab`), so no Python loop runs per term or
    per posting.

    Positions accumulate per cell as interleaved ``[npos, p1, ...]``
    int streams (built with a head-slot scatter, no per-posting
    work), and flush time delta-encodes + LEB128-encodes EVERY cell's
    stream in one vectorized pass (codec.encode_varints_offsets),
    slicing the shared byte buffer back into per-cell blobs by offset
    - each posting's bytes are its ``[npos, delta positions...]``
    varint run (differential test against a per-doc reference
    aggregation)."""
    from ..kernel.tokenizer import lexemes
    from .xxh64 import spark_xxhash64_long_vec, spark_xxhash64_str_vec

    norm = None
    if normalize_zht:
        from ..functions.zht2zhs import zht2zhs as norm

    ncells = num_buckets * num_salts
    uterms: list[list] = [[] for _ in range(ncells)]  # vocab array chunks
    tidx: list[list] = [[] for _ in range(ncells)]    # chunk-vocab idx
    docids: list[list] = [[] for _ in range(ncells)]  # int64 array chunks
    tfs: list[list] = [[] for _ in range(ncells)]     # int64 array chunks
    dls: list[list] = [[] for _ in range(ncells)]     # int64 array chunks
    posv: list[list] = [[] for _ in range(ncells)]    # stream array chunks
    count = 0

    def flush():
        live = [c for c in range(ncells) if tfs[c]]
        if not live:
            return pd.DataFrame(
                {
                    "bucket": np.array([], np.int32),
                    "salt": np.array([], np.int32),
                    "payload": [],
                }
            )
        # one delta+varint pass over every live cell's position stream
        tf_cells = [
            tfs[c][0] if len(tfs[c]) == 1 else np.concatenate(tfs[c])
            for c in live
        ]
        tf_cat = np.concatenate(tf_cells)
        vals = np.concatenate(
            [
                posv[c][0] if len(posv[c]) == 1 else np.concatenate(posv[c])
                for c in live
            ]
        )
        seg = tf_cat + 1  # values per posting: npos + positions
        ends_v = np.cumsum(seg)
        starts_v = ends_v - seg
        pos_mask = np.ones(vals.size, bool)
        pos_mask[starts_v] = False
        pos_idx = np.flatnonzero(pos_mask)
        pos_vals = vals[pos_idx]
        d = np.diff(pos_vals, prepend=np.int64(0))
        first = np.concatenate(
            ([0], np.cumsum(tf_cat[:-1]))
        )  # each posting's first position: absolute, not a delta
        d[first] = pos_vals[first]
        enc = vals.copy()
        enc[pos_idx] = d
        buf, ends_b = encode_varints_offsets(enc.astype(np.uint64))
        blob_all = buf.tobytes()
        post_ends = ends_b[ends_v - 1]
        plens = np.diff(post_ends, prepend=np.int64(0))
        cell_counts = np.asarray([x.size for x in tf_cells], np.int64)
        cell_post_ends = np.cumsum(cell_counts)
        cell_b_ends = post_ends[cell_post_ends - 1]
        cell_b_starts = np.concatenate(([0], cell_b_ends[:-1]))

        rb, rs, rp = [], [], []
        pe = 0
        for i, c in enumerate(live):
            n = int(cell_counts[i])
            vocab, maps = _merge_vocab(uterms[c])
            rp.append(
                _pack_cell_idx(
                    vocab,
                    np.concatenate([m[t_] for m, t_ in zip(maps, tidx[c])]),
                    docids[c][0]
                    if len(docids[c]) == 1
                    else np.concatenate(docids[c]),
                    tf_cells[i],
                    dls[c][0]
                    if len(dls[c]) == 1
                    else np.concatenate(dls[c]),
                    plens[pe : pe + n],
                    blob_all[int(cell_b_starts[i]) : int(cell_b_ends[i])],
                )
            )
            rb.append(c // num_salts)
            rs.append(c % num_salts)
            pe += n
            uterms[c] = []
            tidx[c] = []
            docids[c] = []
            tfs[c] = []
            dls[c] = []
            posv[c] = []
        return pd.DataFrame(
            {
                "bucket": np.array(rb, np.int32),
                "salt": np.array(rs, np.int32),
                "payload": rp,
            }
        )

    for pdf in batches:
        texts = pdf["text"].tolist()
        nd = len(texts)
        if nd == 0:
            continue
        all_terms: list[str] = []
        all_pos: list[int] = []
        doc_lens = np.zeros(nd, np.int64)
        for i, text in enumerate(texts):
            if text is None:
                continue
            if norm is not None:
                text = norm(text)
            lex = lexemes(text)
            if not lex:
                continue
            doc_lens[i] = len(lex)
            ts_, ps_ = zip(*lex)
            all_terms.extend(ts_)
            all_pos.extend(ps_)
        npost_all = len(all_terms)
        if npost_all == 0:
            continue
        codes, uniq = pd.factorize(np.asarray(all_terms, dtype=object))
        V = len(uniq)
        del all_terms
        pos_arr = np.asarray(all_pos, np.int64)
        del all_pos
        doc_idx = np.repeat(np.arange(nd, dtype=np.int64), doc_lens)
        codes = codes.astype(np.int64, copy=False)

        # group (doc, term) with positions in emission order (stable)
        key = doc_idx * np.int64(V) + codes
        order = np.argsort(key, kind="stable")
        ks = key[order]
        ps = pos_arr[order]
        change = np.empty(npost_all, bool)
        change[0] = True
        change[1:] = ks[1:] != ks[:-1]
        gstarts = np.flatnonzero(change)
        tf = np.diff(np.append(gstarts, npost_all))
        g_key = ks[gstarts]
        g_doc = g_key // V
        g_code = g_key - g_doc * V

        docid_arr = pdf["docid"].to_numpy().astype(np.int64, copy=False)
        # numpy % with a positive divisor matches pmod
        salts_doc = spark_xxhash64_long_vec(docid_arr) % num_salts

        uarr = pa.array(uniq, pa.string())
        bkt_u = spark_xxhash64_str_vec(*_binary_parts(uarr)) % num_buckets
        ub = uarr.cast(pa.binary())

        # group postings by cell (stable keeps doc/term order inside)
        p_cell = bkt_u[g_code] * num_salts + salts_doc[g_doc]
        po = np.argsort(p_cell, kind="stable")
        cell_s = p_cell[po]
        tf_o = tf[po]
        g_doc_o = g_doc[po]
        did_o = docid_arr[g_doc_o]
        dl_o = doc_lens[g_doc_o]
        code_o = g_code[po]
        pstart_o = gstarts[po]

        # gather positions into cell-sorted posting order, then build
        # the interleaved [npos, positions...] stream with one scatter
        ng = tf_o.size
        cum = np.cumsum(tf_o)
        offs = cum - tf_o
        out_idx = np.repeat(pstart_o - offs, tf_o) + np.arange(
            npost_all, dtype=np.int64
        )
        pos_g = ps[out_idx]
        stream = np.empty(npost_all + ng, np.int64)
        heads = np.arange(ng, dtype=np.int64) + offs
        stream[heads] = tf_o
        msk = np.ones(stream.size, bool)
        msk[heads] = False
        stream[msk] = pos_g

        cchange = np.empty(ng, bool)
        cchange[0] = True
        cchange[1:] = cell_s[1:] != cell_s[:-1]
        cstarts = np.flatnonzero(cchange).tolist()
        cends = cstarts[1:] + [ng]
        heads_ext = np.append(heads, stream.size)
        for cs, cex in zip(cstarts, cends):
            c = int(cell_s[cs])
            # the chunk's own vocabulary (its unique batch codes, in
            # code order); flush() merges a cell's chunk vocabularies
            lu, inv = np.unique(code_o[cs:cex], return_inverse=True)
            uterms[c].append(ub.take(lu))
            tidx[c].append(inv)
            docids[c].append(did_o[cs:cex])
            tfs[c].append(tf_o[cs:cex])
            dls[c].append(dl_o[cs:cex])
            posv[c].append(stream[heads_ext[cs] : heads_ext[cex]])
        count += ng
        if count >= flush_at:
            df = flush()
            if len(df):
                yield df
            count = 0
    df = flush()
    if len(df):
        yield df


def _encode_cell_blocks(batches, block_size: int):
    """Reduce side of the packed shuffle: gather each (bucket, salt)
    cell's payloads, unpack, sort by (term, docid) with integer term
    ranks (numpy lexsort; no wide-unicode arrays), and yield per cell
    ``(bucket, salt, blocks, term_stats)``: the cell's posting blocks
    as Arrow batches from the columnar block slicer
    :func:`_slice_blocks`, and one ``(bucket, term, df, cf)`` batch
    with a row per term of the cell, in term order - df is the term's
    posting count and cf its summed tf, taken over the same term
    groups the blocks are cut from.

    Memory: one reduce partition's payloads live in RAM, and it encodes
    one cell at a time; size num_salts (docid-disjoint shards) so cells
    fit - the salt count is the scale lever, exactly as for head-term
    skew.  The nested writer keys its tasks by bucket, so a task holds
    all S cells of each of its buckets: B*S/parts cells, as many as
    (bucket, salt)-keyed tasks held wherever 4 tasks per core <= B,
    and twice as many at B=8 on 4 cores.  Measured on 4 vCPUs (python
    workers not reused, RSS sampled every 20 ms), the writer tasks'
    peak RSS was 150 MB against 145 MB (encode) and 151 MB
    (termstats) for separate stages at B=8, S=4 on 3,000 docs, and
    202-204 MB against 186 MB (two runs each) at B=64, S=4 on 200k
    synth docs; the tokenizer tasks peaked higher, at 158 and 627 MB."""
    bs = block_size
    cells: dict[tuple[int, int], list[bytes]] = {}
    for rb in batches:
        for b, s, payload in zip(
            rb.column("bucket").to_pylist(),
            rb.column("salt").to_pylist(),
            rb.column("payload").to_pylist(),
        ):
            cells.setdefault((b, s), []).append(payload)

    for bkt, salt in sorted(cells):
        parts = [_unpack_cell(p) for p in cells[(bkt, salt)]]
        d = np.concatenate([x[0] for x in parts])
        t = np.concatenate([x[1] for x in parts]).astype(np.int64)
        dl = np.concatenate([x[2] for x in parts]).astype(np.int64)
        plen = np.concatenate([x[3] for x in parts]).astype(np.int64)
        # the parts' vocabularies -> the cell vocabulary, sorted (byte
        # order == Spark's string order), and each posting's term rank
        # - no per-term Python
        vocab, maps = _merge_vocab(
            [_binary_array(x[6], x[5]) for x in parts]
        )
        order_u = pc.sort_indices(vocab).to_numpy()
        rank_arr = np.empty(order_u.size, np.int64)
        rank_arr[order_u] = np.arange(order_u.size, dtype=np.int64)
        ranks = np.concatenate(
            [rank_arr[m[x[4]]] for m, x in zip(maps, parts)]
        )
        idx = np.lexsort((d, ranks))
        rs_ = ranks[idx]
        ds = d[idx]
        ts = t[idx]
        dls_ = dl[idx]
        # positions: byte-level gather into sorted posting order - no
        # per-posting bytes objects
        bigbuf = np.frombuffer(b"".join([x[7] for x in parts]), np.uint8)
        starts = np.cumsum(plen) - plen
        pos_bytes, p_ends = _gather_bytes(bigbuf, starts[idx], plen[idx])

        n = len(rs_)
        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = rs_[1:] != rs_[:-1]
        gstarts = np.flatnonzero(change)
        gends = np.append(gstarts[1:], n)
        glens = gends - gstarts
        ofs = np.arange(n, dtype=np.int64) - np.repeat(gstarts, glens)
        bstarts = np.flatnonzero((ofs % bs) == 0)
        gid = np.searchsorted(gstarts, bstarts, side="right") - 1
        bends = np.minimum(bstarts + bs, gends[gid])
        bids = (bstarts - gstarts[gid]) // bs
        terms = vocab.take(order_u).cast(pa.string())
        nb = bstarts.size
        blocks = _slice_blocks(
            np.full(nb, bkt, np.int32), np.full(nb, salt, np.int32),
            terms.take(rs_[bstarts]), bids, bstarts, bends,
            ds, ts, dls_, (pos_bytes, p_ends),
        )
        term_stats = pa.RecordBatch.from_arrays(
            [
                pa.array(np.full(gstarts.size, bkt, np.int32)),
                terms.take(rs_[gstarts]),
                pa.array(glens.astype(np.int64)),
                pa.array(np.add.reduceat(ts, gstarts).astype(np.int64)),
            ],
            names=["bucket", "term", "df", "cf"],
        )
        yield bkt, salt, blocks, term_stats


def _with_docid(docs: DataFrame, docid_col: str | None) -> DataFrame:
    if docid_col is None:
        return docs.withColumn("docid", F.xxhash64(F.col("url")))
    return docs.withColumn("docid", F.col(docid_col).cast("long"))


def _doc_cells(
    docs: DataFrame, docid_col, text_col, num_buckets, num_salts,
    normalize_zht, obs=None,
) -> DataFrame:
    """The tokenizer pass of the batch build and of appends: docs ->
    packed (bucket, salt) cell rows (:func:`_packed_postings_gen`).
    ``obs``, when given, counts the source docs as the observed
    metric ``n_docs``."""
    sel = _with_docid(docs, docid_col).select(
        "docid", F.col(text_col).alias("text")
    )
    if obs is not None:
        sel = sel.observe(obs, F.count(F.lit(1)).alias("n_docs"))
    return sel.mapInPandas(
        lambda it: _packed_postings_gen(
            it, num_buckets, num_salts, normalize_zht=normalize_zht
        ),
        PACKED_SCHEMA,
    )


# BLOCK_SCHEMA as Arrow: what the encoders' batches must carry exactly
# (``mapInArrow`` checks the types; tests compare it with Spark's own
# conversion of BLOCK_SCHEMA)
BLOCK_ARROW_SCHEMA = pa.schema(
    [
        ("bucket", pa.int32()), ("salt", pa.int32()), ("term", pa.string()),
        ("block_id", pa.int32()), ("n", pa.int32()),
        ("min_docid", pa.int64()), ("max_docid", pa.int64()),
        ("docids", pa.binary()), ("tfs", pa.binary()),
        ("doclens", pa.binary()), ("positions", pa.binary()),
        ("max_tf", pa.int32()), ("min_dl", pa.int32()),
        ("sum_tf", pa.int64()),
    ]
)

# cap on one output batch's binary bytes (all four columns together),
# far below the 2 GiB an int32-offset binary column can address
_BATCH_BYTES = 1 << 26


def _binary_array(data, lens) -> pa.Array:
    """Arrow binary array over ``data`` (bytes or uint8 array, zero-
    copy) holding consecutive values of byte lengths ``lens``."""
    offs = np.zeros(len(lens) + 1, np.int32)
    np.cumsum(lens, out=offs[1:])
    return pa.Array.from_buffers(
        pa.binary(), len(lens), [None, pa.py_buffer(offs), pa.py_buffer(data)]
    )


def _slice_blocks(bucket, salt, term, bids, bstarts, bends, d, t, dl, pos):
    """Assemble posting blocks as Arrow batches: one vectorized varint
    encode per column for ALL blocks, then each binary column is ONE
    ``from_buffers`` over that varint buffer with the blocks' byte
    offsets - no per-block Python objects.  ``bstarts``/``bends`` must
    partition [0, len(d)) contiguously (block starts include every
    group start), so ``reduceat`` segments == blocks and block byte
    ranges tile each buffer.

    ``bucket``/``salt`` are per-block int arrays, ``term`` a per-block
    Arrow string array, ``d``/``t``/``dl`` the postings' int64 docids,
    tfs and doclens, and ``pos`` a ``(uint8 bytes, int64 ends)`` pair:
    the position byte stream in posting order plus each posting's end
    offset.  Returns one batch, or several when the binary columns
    would pass ``_BATCH_BYTES``."""
    du = np.ascontiguousarray(d).view(np.uint64)
    tu = np.ascontiguousarray(t).view(np.uint64)
    lu = np.ascontiguousarray(dl).view(np.uint64)
    deltas = du.copy()
    deltas[1:] -= du[:-1]
    deltas[bstarts] = du[bstarts]  # first docid of each block is absolute
    last = bends - 1
    bins = [
        (buf, np.concatenate(([0], ends[last])))  # block byte offsets
        for buf, ends in (
            encode_varints_offsets(deltas),
            encode_varints_offsets(tu),
            encode_varints_offsets(lu),
            pos,
        )
    ]
    cols = [
        np.asarray(bucket, np.int32), np.asarray(salt, np.int32), term,
        np.asarray(bids, np.int32), (bends - bstarts).astype(np.int32),
        d[bstarts], d[last], *bins,
        np.maximum.reduceat(tu, bstarts).astype(np.int32),
        np.minimum.reduceat(lu, bstarts).astype(np.int32),
        np.add.reduceat(tu, bstarts).astype(np.int64),
    ]

    def piece(c, i0, i1):
        if isinstance(c, tuple):
            buf, offs = c
            o = offs[i0 : i1 + 1]
            return _binary_array(buf[o[0] : o[-1]], np.diff(o))
        if isinstance(c, pa.Array):
            return c.slice(i0, i1 - i0)
        return pa.array(c[i0:i1])

    total = sum(offs for _, offs in bins)
    nb = bstarts.size
    out = []
    i0 = 0
    while i0 < nb:
        i1 = int(np.searchsorted(total, total[i0] + _BATCH_BYTES, "right")) - 1
        i1 = min(max(i1, i0 + 1), nb)
        out.append(
            pa.RecordBatch.from_arrays(
                [piece(c, i0, i1) for c in cols], schema=BLOCK_ARROW_SCHEMA
            )
        )
        i0 = i1
    return out


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    docid_col: str | None = None,
    text_col: str = "text",
    num_buckets: int = DEFAULT_BUCKETS,
    num_salts: int = DEFAULT_SALTS,
    block_size: int = DEFAULT_BLOCK,
    k1: float = 1.2,
    b: float = 0.75,
    resume: bool = False,
    fingerprint: str | None = None,
    num_partitions: int | None = None,
    n_docs: int | None = None,
    normalize_zht: bool = False,
) -> dict:
    """Build (or resume) the inverted index for ``docs``; returns stats.

    ``docid_col`` names an integer doc-id column; ``None`` uses
    ``xxhash64(url)``.  Doc-id density matters: delta-varint docid
    blocks are ~2.4x smaller (and build ~1.4x faster) with
    dense/clustered int64 ids than with random hash ids.  Pass a dense
    ``docid_col`` when the corpus has one (ingest sequence, crawl
    timestamp); ``xxhash64(url)`` is the fallback when only urls
    identify documents.

    The index is written as epoch 0 of the epoch protocol, manifest
    last (module docstring, step 4).  ``num_partitions`` sets the
    writer's task count, each task writing whole buckets; it defaults
    to 4 per core and is capped at ``num_buckets``.  ``resume=True`` returns the
    stored stats without running a Spark job when epoch 0's manifest
    is complete and carries ``fingerprint`` - also after later
    appends, and after a compaction or merge folded epoch 0 into
    another epoch (its manifest carries the fingerprint on) - and
    runs a clean build otherwise.

    ``normalize_zht=True`` maps traditional->simplified CJK
    (cjk_zht2zhs) inside the tokenizer pass, so traditional and
    simplified spellings index to the same terms; the flag is recorded
    in stats.json and query routing applies the same normalization to
    query text automatically.
    """
    import hashlib
    import shutil

    os.makedirs(index_dir, exist_ok=True)
    if fingerprint is None:
        # the fingerprint gates resume, so it must identify the
        # corpus, not just the layout: resuming after the input
        # changed must rebuild rather than keep an index built from
        # the old docs.
        if n_docs is None:
            n_docs = docs.count()
        try:
            srcs = sorted(docs.inputFiles())
        except Exception:
            srcs = []
        if srcs:
            src_h = hashlib.md5("|".join(srcs).encode()).hexdigest()[:10]
        else:
            # in-memory DataFrame: no input files to identify the corpus,
            # and doc count alone cannot distinguish two different
            # same-sized corpora - so never reuse a prior build
            # (a caller who wants resume for an in-memory source passes
            # an explicit content-derived ``fingerprint``)
            src_h = "mem"
            resume = False
        zs = "-z" if normalize_zht else ""
        fingerprint = (
            f"fp3-{num_buckets}-{num_salts}-{block_size}{zs}-n{n_docs}-{src_h}"
        )
    from .streaming import (
        _build_fingerprint,
        _epoch_dirs,
        _epoch_manifest,
        _rebuild_stats,
        _write_epoch,
    )

    mpath = _epoch_manifest(index_dir, 0)
    if resume and _build_fingerprint(index_dir) == fingerprint:
        try:
            with open(os.path.join(index_dir, "stats.json")) as f:
                return json.load(f)
        except (OSError, ValueError):
            pass  # its stats were lost: rebuild
    # clean build: nothing of a previous index may survive - stale
    # epochs, a half-written epoch 0, or tombstones that would mask
    # the rebuilt docs
    try:
        os.remove(os.path.join(index_dir, "stats.json"))
    except FileNotFoundError:
        pass
    for sub in ("manifests", "postings", "termstats", "tombstones"):
        shutil.rmtree(os.path.join(index_dir, sub), ignore_errors=True)

    t0 = time.time()
    if n_docs is None:
        n_docs = docs.count()
    # Fully fused AND packed: the tokenizer pass packs each (bucket,
    # salt) cell's postings into one fat binary row per map chunk, the
    # shuffle moves ~B*S rows per map task instead of one row per
    # posting (the per-row Python<->JVM Arrow boundary measured ~5s per
    # direction at 10M postings), and the reducer sorts + block-encodes
    # in numpy and writes the blocks itself.
    cells = _doc_cells(
        docs, docid_col, text_col, num_buckets, num_salts, normalize_zht
    )
    total_tf, n_postings, n_terms = _write_epoch(
        spark, cells, *_epoch_dirs(index_dir, 0), num_buckets, block_size,
        num_partitions,
    )
    os.makedirs(os.path.dirname(mpath), exist_ok=True)
    _atomic_json(
        mpath,
        {
            "epoch": 0,
            "status": "complete",
            "n_docs": int(n_docs),
            "total_tf": total_tf,
            "n_postings": n_postings,
            "n_terms": n_terms,
            "fingerprint": fingerprint,
            "applied_at": time.time(),
        },
    )
    return _rebuild_stats(
        index_dir, num_buckets, num_salts, block_size, k1, b, normalize_zht,
        add={0: 0},
        extra={
            "n_terms_approx": n_terms,
            "fingerprint": fingerprint,
            "build_seconds": round(time.time() - t0, 3),
        },
    )
