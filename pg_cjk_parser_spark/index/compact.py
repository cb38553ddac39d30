"""Index compaction and epoch merges: one fold, committed by one
snapshot write.

Every index is a sequence of epochs - the batch build is epoch 0 and
appends add 1, 2, ... (index/streaming.py) - and each epoch leaves one
block sequence per (term, salt); queries stay correct (the scorer
merges block sequences by docid) but head terms accumulate many short
tails.  A FOLD rewrites a set of epochs as one: :func:`merge_epochs`
folds a subset, and :func:`compact_index` folds every epoch and also
clears the tombstones it applied.  Both run through :func:`_fold`:

1. read the folded epochs' dirs, as the snapshot (stats.json) lists
   them, with the known block schema (no inference job);
2. decode the blocks back to postings without the tombstoned
   versions, and write them through the build's packed-cell encoder
   and its one nested-epoch writer (``streaming._write_epoch``) into
   the next generation of the newest folded epoch, ``epoch=E.gG``,
   which no snapshot lists yet.  The same decode collects the dropped
   (docid, epoch) versions in an accumulator, so the removed doc
   count costs no second pass;
3. write that generation's manifest, then commit with ONE atomic
   write of stats.json listing it in place of the folded epochs;
4. sweep what the snapshot no longer lists.

A crash before the stats.json write leaves the old snapshot serving,
plus unlisted leftovers that the next fold sweeps first; a crash
after it leaves the new one.  Readers never see a mix.

Blocks turn back into postings through the library's one block
decoder, ``codec.decode_blocks``, which decodes a whole Arrow batch
of block rows at once and drops tombstoned postings with one mask;
the :func:`decode_postings` export uses it too.  The folded manifest
carries the batch build's fingerprint on, so
``build_index(resume=True)`` still finds the build.
"""

from __future__ import annotations

import functools
import os
import re
import shutil
import time

import numpy as np
import pyarrow as pa
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession, functions as F

from .build import BLOCK_SCHEMA, _atomic_json
from .codec import BLOCK_COLS, _gather_bytes, decode_blocks
from .streaming import (
    _epoch_dirs,
    _epoch_manifest,
    _load_snapshot,
    _read_manifest,
    _rebuild_stats,
    _write_epoch,
)
from .tombstones import (
    epoch_dir_layout,
    epoch_name,
    list_tombstone_files,
    load_tombstones,
    snapshot_epochs,
)

_POSTING_SCHEMA = (
    "bucket int, salt int, term string, docid long, tf int, doclen int, "
    "positions binary"
)


def _export_postings(batches, deleted):
    """``mapInArrow`` body of :func:`decode_postings`: block rows ->
    one Arrow row per live posting."""
    from .build import _binary_array

    for rb in batches:
        blk, ids, tfs, dls, pstart, plen, pbuf = decode_blocks(rb, deleted)
        if not blk.size:
            continue
        pos, _ = _gather_bytes(pbuf, pstart, plen)
        ix = pa.array(blk)
        yield pa.RecordBatch.from_arrays(
            [
                rb.column("bucket").take(ix),
                rb.column("salt").take(ix),
                rb.column("term").take(ix),
                pa.array(ids),
                pa.array(tfs.astype(np.int32)),
                pa.array(dls.astype(np.int32)),
                _binary_array(pos, plen),
            ],
            names=[
                "bucket", "salt", "term", "docid", "tf", "doclen",
                "positions",
            ],
        )


def decode_postings(spark: SparkSession, index_dir: str):
    """Export the index back to one row per posting
    (bucket, salt, term, docid, tf, doclen, positions:binary) - the
    inverse of the build; useful for re-sharding into a different
    layout or feeding postings to downstream pipelines.  Tombstoned
    (docid, epoch) versions are dropped, so the export is the LIVE
    corpus."""
    postings = _read_epochs(
        spark, index_dir, snapshot_epochs(_load_snapshot(index_dir))
    )
    deleted = load_tombstones(index_dir)
    return postings.mapInArrow(
        lambda it: _export_postings(it, deleted), _POSTING_SCHEMA
    )


def _read_epochs(spark: SparkSession, index_dir: str, epochs: dict):
    """Block rows (``codec.BLOCK_COLS`` plus ``epoch``) of the
    ``{epoch: generation}`` postings dirs, or None when none holds
    data.  Each dir reads with the known block schema, so no schema
    inference job runs: bucket is a partition of a nested dir and a
    data column of a flat one, and the epoch is a literal."""
    dfs = []
    for e, g in sorted(epochs.items()):
        p = os.path.join(index_dir, "postings", epoch_name(e, g))
        if epoch_dir_layout(p):
            dfs.append(
                spark.read.schema(BLOCK_SCHEMA)
                .parquet(p)
                .select(*BLOCK_COLS, F.lit(e).alias("epoch"))
            )
    return functools.reduce(DataFrame.union, dfs) if dfs else None


def _decode_to_cells(batches, flush_at: int = 500_000, deleted=None, dead=None):
    """Decode posting blocks straight into packed (bucket, salt) cells
    for the packed-cell shuffle (build._encode_cell_blocks) - the same
    cells-not-rows strategy as the batch build, so compaction never
    pays a per-posting Arrow row boundary.

    Each batch decodes in one ``codec.decode_blocks`` call (tombstoned
    postings already dropped); one stable argsort groups its postings
    by cell and ONE byte gather moves the surviving position blobs
    into that order - position lists are never decoded or
    re-encoded.  A cell chunk keeps its blocks' terms as its
    vocabulary; flush merges a cell's chunks with one dictionary
    encode (build._merge_vocab).  The (docid, epoch) versions the
    tombstones drop go to the ``dead`` accumulator, once per task."""
    from .build import _merge_vocab, _pack_cell_idx

    # (bucket, salt) -> chunks of (vocab, vocab idx, docids, tfs,
    # doclens, position lengths, position bytes)
    cells: dict[tuple[int, int], list] = {}
    count = 0
    dropped: set = set()

    def flush():
        rb_, rs_, rp = [], [], []
        for (b, s), chunks in sorted(cells.items()):
            vocab, maps = _merge_vocab([ch[0] for ch in chunks])

            def cat(k):
                return np.concatenate([ch[k] for ch in chunks])

            rp.append(
                _pack_cell_idx(
                    vocab,
                    np.concatenate([m[ch[1]] for m, ch in zip(maps, chunks)]),
                    cat(2), cat(3), cat(4), cat(5), cat(6).tobytes(),
                )
            )
            rb_.append(b)
            rs_.append(s)
        cells.clear()
        return pa.RecordBatch.from_arrays(
            [
                pa.array(rb_, pa.int32()), pa.array(rs_, pa.int32()),
                pa.array(rp, pa.binary()),
            ],
            names=["bucket", "salt", "payload"],
        )

    for rb in batches:
        blk, ids, tfs, dls, pstart, plen, pbuf = decode_blocks(
            rb, deleted, dropped
        )
        if not blk.size:
            continue
        bkt = rb.column("bucket").to_numpy().astype(np.int64)
        slt = rb.column("salt").to_numpy().astype(np.int64)
        key = (bkt << 32 | slt)[blk]
        # stable: blocks (and so a term's docids) keep their order
        order = np.argsort(key, kind="stable")
        key, blk = key[order], blk[order]
        ids, tfs, dls, plen = ids[order], tfs[order], dls[order], plen[order]
        pos, pends = _gather_bytes(pbuf, pstart[order], plen)
        pofs = np.concatenate(([0], pends))  # posting p's bytes start
        terms = rb.column("term").cast(pa.binary())
        cstarts = np.flatnonzero(np.diff(key, prepend=-1)).tolist()
        for cs, ce in zip(cstarts, cstarts[1:] + [key.size]):
            lu, inv = np.unique(blk[cs:ce], return_inverse=True)
            cell = (int(bkt[blk[cs]]), int(slt[blk[cs]]))
            cells.setdefault(cell, []).append(
                (
                    terms.take(lu), inv, ids[cs:ce], tfs[cs:ce], dls[cs:ce],
                    plen[cs:ce], pos[pofs[cs] : pofs[ce]],
                )
            )
        count += ids.size
        if count >= flush_at:
            yield flush()
            count = 0
    if cells:
        yield flush()
    if dead is not None and dropped:
        dead.add(dropped)


def _decoded_cells(postings, deleted, dead):
    """Block rows -> packed cell rows (build.PACKED_SCHEMA) with the
    tombstones ``deleted`` applied: the map side a fold feeds to
    ``streaming._write_epoch``."""
    from .build import PACKED_SCHEMA

    return postings.mapInArrow(
        lambda it: _decode_to_cells(it, deleted=deleted, dead=dead),
        PACKED_SCHEMA,
    )


class _VersionSet(AccumulatorParam):
    """Set union of (docid, epoch) versions.  ``n_docs`` counts
    versions, and one version spans many postings and tasks; a union
    counts each once, also when a task is retried."""

    def zero(self, value):
        return set()

    def addInPlace(self, a, b):
        a |= b
        return a


def _fold(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    epochs: list[int],
    block_size: int | None,
    num_partitions: int | None,
    compact: bool,
) -> dict:
    """Rewrite the sorted ``epochs``, which the snapshot ``stats``
    lists, as one new generation of the newest of them - it keeps its
    number, which tombstone bounds depend on - and commit it (module
    docstring, steps 1-4).  ``compact`` applies a snapshot of the
    tombstone files and records them as applied in the commit."""
    _sweep(index_dir, stats)
    listing = snapshot_epochs(stats)
    block_size = block_size or stats["block_size"]
    target = epochs[-1]
    gen = listing[target] + 1
    tomb_files, extra = None, {}
    if compact:
        # SNAPSHOT the tombstone files: deletes arriving during the
        # (long) compaction are neither applied nor cleared.  A
        # DEFAULT delete (upto = current max epoch, the epoch the
        # survivors are rewritten under) keeps masking its targets and
        # folds out next compaction.  An EXPLICIT upto below the
        # current max cannot survive the commit faithfully: compaction
        # collapses every version into one epoch, so a below-max bound
        # can no longer tell the versions it targeted from the ones it
        # spared.  Hence the generation bump, committed together with
        # the applied file names: load_tombstones clamps an older
        # generation's below-minimum bound up to the minimum live
        # epoch (delete-wins) and skips an applied file, so a leftover
        # or replayed tombstone can never re-activate
        tomb_files = list_tombstone_files(index_dir)
        extra = {
            "compact_gen": int(stats.get("compact_gen", 0)) + 1,
            "applied_tombstones": tomb_files,
        }
    postings = _read_epochs(spark, index_dir, {e: listing[e] for e in epochs})
    dead = spark.sparkContext.accumulator(set(), _VersionSet())
    total_tf = n_postings = 0
    if postings is not None:  # None: only manifest-only (empty) epochs
        total_tf, n_postings, _ = _write_epoch(
            spark,
            _decoded_cells(
                postings, load_tombstones(index_dir, tomb_files), dead
            ),
            *_epoch_dirs(index_dir, target, gen),
            stats["num_buckets"], block_size, num_partitions,
        )
    # the folded manifest: every folded version but the dropped ones,
    # the written totals, and the batch build's fingerprint when
    # epoch 0 is folded in (build_index resume looks for it)
    folded = [_read_manifest(index_dir, e, listing[e]) for e in epochs]
    fp = next(
        filter(
            None,
            (m.get("fingerprint") or m.get("build_fingerprint") for m in folded),
        ),
        None,
    )
    _atomic_json(
        _epoch_manifest(index_dir, target, gen),
        {
            "epoch": target,
            "status": "complete",
            "merged_from": epochs,
            "n_docs": sum(int(m.get("n_docs", 0)) for m in folded)
            - len(dead.value),
            "total_tf": total_tf,
            "n_postings": n_postings,
            "applied_at": time.time(),
            **({"build_fingerprint": fp} if fp else {}),
        },
    )
    out = _rebuild_stats(
        index_dir, stats["num_buckets"], stats["num_salts"], block_size,
        stats["k1"], stats["b"], stats.get("normalize_zht", False),
        extra=extra, add={target: gen}, drop=epochs,
    )
    _sweep(index_dir, out)
    return out


# an epoch dir (postings/, termstats/) or manifest name of any
# generation: epoch=E or epoch=E.gG, plus .json for a manifest
_EPOCH_ENTRY = re.compile(r"epoch=(\d+)(?:\.g\d+)?(?:\.json)?")


def _sweep(index_dir: str, stats: dict) -> None:
    """Remove what the snapshot ``stats`` does not list: epoch dirs
    and manifests up to its newest epoch (a newer one may be an
    append that has not committed yet), and the tombstone files it
    records as applied.  Runs after every fold's commit, and first in
    every fold, so a crashed fold's leftovers go too."""
    listing = snapshot_epochs(stats)
    keep = {epoch_name(e, g) for e, g in listing.items()}
    top = max(listing, default=-1)
    for sub in ("postings", "termstats", "manifests"):
        d = os.path.join(index_dir, sub)
        for n in sorted(os.listdir(d)) if os.path.isdir(d) else ():
            m = _EPOCH_ENTRY.fullmatch(n)
            listed = n.removesuffix(".json") in keep
            if m and int(m.group(1)) <= top and not listed:
                _remove(os.path.join(d, n))
    for n in stats.get("applied_tombstones") or ():
        _remove(os.path.join(index_dir, "tombstones", n))


def _remove(path: str) -> None:
    """Remove one swept file or dir.  A failure leaves unlisted
    garbage, which no reader serves and the next sweep retries."""
    try:
        if os.path.isdir(path):
            shutil.rmtree(path)
        else:
            os.remove(path)
    except OSError:
        pass


def compact_index(
    spark: SparkSession,
    index_dir: str,
    block_size: int | None = None,
    num_partitions: int | None = None,
) -> dict:
    """Fold EVERY epoch into one, the newest epoch's next generation,
    and apply the tombstones physically: postings drop, per-term
    df/cf derive from the new block metadata, n_docs/avgdl refresh
    exactly, and the applied tombstone files clear.
    ``num_partitions`` sets the writer's task count, each task writing
    whole buckets (default 4 per core, capped at the bucket count)."""
    stats = _load_snapshot(index_dir)
    return _fold(
        spark, index_dir, stats, sorted(snapshot_epochs(stats)), block_size,
        num_partitions, compact=True,
    )


def merge_epochs(
    spark: SparkSession,
    index_dir: str,
    epochs: list[int],
    block_size: int | None = None,
    num_partitions: int | None = None,
) -> dict:
    """Selective compaction (the tiered-merge analog of Lucene's
    segment merging): fold a SUBSET of epochs into one, leaving the
    rest untouched - at corpus scale a full ``compact_index`` rewrite
    is an event, while streaming ingestion continuously produces
    small epochs that should fold cheaply into their neighbors.

    Tombstones interact exactly as with segment merges: postings
    masked within the merged epochs are dropped during the merge (the
    merged copies carry the TARGET epoch, which would otherwise
    escape an epoch-bounded tombstone), per-(doc, epoch)-version
    stats adjust for what was dropped, and the tombstone files REMAIN
    - they may still mask unmerged epochs, and re-masking dropped
    postings is a no-op.  Re-running a merge that already committed
    only finishes its sweep.  ``num_partitions`` is as for
    :func:`compact_index`."""
    stats = _load_snapshot(index_dir)
    listing = snapshot_epochs(stats)
    epochs = sorted(set(epochs))
    missing = [e for e in epochs if e not in listing]
    if missing:
        t = epochs[-1]
        if t in listing and _read_manifest(index_dir, t, listing[t]).get(
            "merged_from"
        ) == epochs:
            # this merge already committed: at most its sweep is left
            _sweep(index_dir, stats)
            return stats
        raise ValueError(f"unknown epochs {missing}; index has {sorted(listing)}")
    if len(epochs) < 2:
        raise ValueError("merge_epochs needs at least two epochs")
    return _fold(
        spark, index_dir, stats, epochs, block_size, num_partitions,
        compact=False,
    )


def maintain_index(
    spark: SparkSession,
    index_dir: str,
    max_epochs: int = 8,
    merge_factor: int = 4,
) -> dict:
    """Maintenance policy (Lucene's merge policy analog): while the
    index holds more than ``max_epochs`` epochs, fold the
    ``merge_factor`` SMALLEST (by manifest doc count) into one with
    :func:`merge_epochs`.  Run it after streaming bursts - the
    per-epoch fixed costs queries pay (per-epoch shard listing, block
    tails per term) stay bounded without ever rewriting the large
    epochs.  Safe with tombstones (merge applies them to the merged
    subset); idempotent when nothing exceeds the bound."""
    stats = None
    while True:
        cur = _load_snapshot(index_dir)
        listing = snapshot_epochs(cur)
        if len(listing) <= max_epochs:
            return stats or cur
        sizes = {
            e: int(_read_manifest(index_dir, e, g).get("n_docs", 0))
            for e, g in listing.items()
        }
        pick = sorted(listing, key=lambda e: (sizes[e], e))[
            : max(2, merge_factor)
        ]
        stats = merge_epochs(spark, index_dir, pick)
