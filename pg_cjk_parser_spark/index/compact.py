"""Index compaction: merge an index's epochs into one optimal layout.

Every index is a sequence of epochs - the batch build is epoch 0 and
appends add 1, 2, ... (index/streaming.py) - and each epoch leaves one
block sequence per (term, salt); queries stay correct (the scorer
merges block sequences by docid) but head terms accumulate many short
tails. Compaction decodes all block rows back to postings, re-sorts
per (bucket, salt, term, docid), and re-encodes full blocks under a
single consolidated epoch, swapping directories atomically and
collapsing the epoch manifests.

Blocks turn back into postings through the library's one block
decoder, ``codec.decode_blocks``, which decodes a whole Arrow batch of
block rows at once and drops tombstoned postings with one mask.
Compaction, :func:`merge_epochs`, their tombstone accounting and the
:func:`decode_postings` export call it once per batch, as the query
path and ``validate_index`` do; compaction's postings then go back
through the build's packed-cell encoder and its one nested-epoch
writer (``streaming._write_epoch``), into temporary dirs that swap
in.  The consolidated manifest carries the batch build's fingerprint
on, so ``build_index(resume=True)`` still finds the build.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession, functions as F

from .build import _atomic_json, _bucket_dirs
from .codec import BLOCK_COLS, _gather_bytes, decode_blocks
from .streaming import _build_fingerprint, _rebuild_stats, _write_epoch
from .tombstones import (
    clear_tombstones,
    epoch_dir_layout,
    epoch_from_file_path,
    list_tombstone_files,
    load_tombstones,
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
    postings = _read_epochs(spark, os.path.join(index_dir, "postings"))
    deleted = load_tombstones(index_dir)
    return (
        postings.select(*BLOCK_COLS)
        .withColumn("epoch", epoch_from_file_path())
        .mapInArrow(
            lambda it: _export_postings(it, deleted), _POSTING_SCHEMA
        )
    )


def _decode_to_cells(batches, flush_at: int = 500_000, deleted=None):
    """Decode posting blocks straight into packed (bucket, salt) cells
    for the packed-cell shuffle (build.py:_encode_cells) - the same
    cells-not-rows strategy as the batch build, so compaction never
    pays a per-posting Arrow row boundary.

    Each batch decodes in one ``codec.decode_blocks`` call (tombstoned
    postings already dropped); one stable argsort groups its postings
    by cell and ONE byte gather moves the surviving position blobs
    into that order - position lists are never decoded or
    re-encoded.  A cell chunk keeps its blocks' terms as its
    vocabulary; flush merges a cell's chunks with one dictionary
    encode (build._merge_vocab)."""
    from .build import _merge_vocab, _pack_cell_idx

    # (bucket, salt) -> chunks of (vocab, vocab idx, docids, tfs,
    # doclens, position lengths, position bytes)
    cells: dict[tuple[int, int], list] = {}
    count = 0

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
        blk, ids, tfs, dls, pstart, plen, pbuf = decode_blocks(rb, deleted)
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


def _decoded_cells(postings, deleted):
    """Block rows -> packed cell rows (build.PACKED_SCHEMA) with the
    tombstones ``deleted`` applied: the map side that compaction and
    :func:`merge_epochs` feed to ``streaming._write_epoch``."""
    from .build import PACKED_SCHEMA

    return (
        postings.select(*BLOCK_COLS)
        .withColumn("epoch", epoch_from_file_path())
        .mapInArrow(
            lambda it: _decode_to_cells(it, deleted=deleted), PACKED_SCHEMA
        )
    )


def compact_index(
    spark: SparkSession,
    index_dir: str,
    block_size: int | None = None,
    num_partitions: int | None = None,
) -> dict:
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    block_size = block_size or stats["block_size"]
    postings = _read_epochs(spark, os.path.join(index_dir, "postings"))
    # SNAPSHOT the tombstone files: deletes arriving during the (long)
    # compaction are neither applied nor cleared.  A DEFAULT delete
    # (upto = current max epoch, which equals the consolidated epoch
    # the survivors are rewritten under) keeps masking its targets
    # and folds out next compaction.  An EXPLICIT upto below the
    # current max cannot survive the swap faithfully: compaction
    # collapses every version into the consolidated epoch, so a
    # below-max bound can no longer tell the versions it targeted
    # from the ones it spared.  Tombstones are generation-stamped:
    # load_tombstones clamps a PRE-swap file's below-minimum bound up
    # to the minimum live epoch (delete-wins - the racing delete still
    # masks, losing only the ability to spare newer pre-compaction
    # versions), while files this compaction applied are journaled in
    # stats.json so a leftover or replayed tombstone can never
    # re-activate; see delete_docs / load_tombstones
    tomb_files = list_tombstone_files(index_dir)
    pending_path = os.path.join(index_dir, "_compact_pending.json")
    if os.path.exists(pending_path):
        # crash recovery: a prior compaction swapped the data but died
        # before the stats/manifest update; its journaled removal
        # counts are still the truth (recomputing over the already-
        # compacted postings would find zero)
        with open(pending_path) as f:
            pj = json.load(f)
        tomb_files = pj["tomb_files"]
        removed = pj["removed"]
        deleted = load_tombstones(index_dir, tomb_files)
    else:
        deleted = load_tombstones(index_dir, tomb_files)
        removed = (
            _deleted_stats(postings, deleted)
            if deleted is not None
            else None
        )
        if removed is not None:
            _atomic_json(
                pending_path,
                {"tomb_files": tomb_files, "removed": removed},
            )
    epochs = sorted(stats.get("epochs", [])) or [0]
    new_epoch = epochs[-1]
    # the consolidated epoch goes through the build's writer into
    # temporary dirs; its termstats derive from the NEW block
    # metadata, so tombstoned docs no longer count
    tmp_postings = os.path.join(index_dir, "_compact_postings")
    tmp_ts = os.path.join(index_dir, "_compact_termstats")
    for tmp in (tmp_postings, tmp_ts):
        shutil.rmtree(tmp, ignore_errors=True)
    _write_epoch(
        spark, _decoded_cells(postings, deleted),
        os.path.join(tmp_postings, f"epoch={new_epoch}"),
        os.path.join(tmp_ts, f"epoch={new_epoch}"),
        stats["num_buckets"], stats["num_salts"], block_size,
        num_partitions,
    )

    # atomic-ish swap
    for name, tmp in (("postings", tmp_postings), ("termstats", tmp_ts)):
        live = os.path.join(index_dir, name)
        old = os.path.join(index_dir, f"_old_{name}")
        shutil.rmtree(old, ignore_errors=True)
        os.replace(live, old)
        os.replace(tmp, live)
        shutil.rmtree(old, ignore_errors=True)

    if removed is not None:
        # tombstones are now physically applied: refresh corpus stats
        # (n_docs / total_tf / n_postings) and drop the tombstone files
        stats["n_docs"] -= removed["n_docs"]
        stats["total_tf"] -= removed["total_tf"]
        stats["n_postings"] -= removed["n_postings"]
        clear_tombstones(index_dir, tomb_files)

    # tombstone generation bookkeeping (see tombstones.load_tombstones):
    # every compaction collapses epoch identity, so the generation bumps
    # unconditionally, and any snapshot file that survived its clear
    # (OSError) is journaled as applied so it can never re-activate and
    # destroy a delete+reinsert's spared version
    tdir = os.path.join(index_dir, "tombstones")
    still_applied = sorted(
        n
        for n in set(tomb_files) | set(stats.get("applied_tombstones") or ())
        if os.path.exists(os.path.join(tdir, n))
    )
    gen_extra = {
        "compact_gen": int(stats.get("compact_gen", 0)) + 1,
        "applied_tombstones": still_applied,
    }
    stats.update(gen_extra)

    # consolidate epoch manifests into one; it carries the batch
    # build's fingerprint on, so build_index(resume=True) keeps the
    # index instead of rebuilding it
    fp = _build_fingerprint(index_dir)
    mdir = os.path.join(index_dir, "manifests")
    for name in list(os.listdir(mdir)):
        if name.startswith("epoch="):
            os.remove(os.path.join(mdir, name))
    _atomic_json(
        os.path.join(mdir, f"epoch={new_epoch}.json"),
        {
            "epoch": new_epoch,
            "status": "complete",
            "compacted": True,
            "n_docs": stats["n_docs"],
            "total_tf": stats["total_tf"],
            "n_postings": stats["n_postings"],
            "applied_at": time.time(),
            **({"build_fingerprint": fp} if fp else {}),
        },
    )
    out = _rebuild_stats(
        index_dir, stats["num_buckets"], stats["num_salts"], block_size,
        stats["k1"], stats["b"], stats.get("normalize_zht", False),
        extra=gen_extra,
    )
    if os.path.exists(pending_path):
        os.remove(pending_path)
    return out


def _deleted_stats(postings, deleted) -> dict:
    """Exact stats removed by applying the tombstones.  The unit of
    n_docs accounting is a (doc, epoch) VERSION - each epoch manifest
    counted the doc once, and an upserted doc contributed one n_docs
    unit per version - so compaction subtracts one unit per fully
    masked version (a tombstone bound masks a doc's postings
    uniformly within an epoch).  Emits one row per posting whose
    docid is tombstoned at the posting's epoch, so the scanned volume
    is bounded by the tombstone set."""

    def gen(batches):
        for rb in batches:
            blk, ids, tfs, *_ = decode_blocks(rb, deleted, dead=True)
            if blk.size:
                eps = rb.column("epoch").to_numpy().astype(np.int64)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ids), pa.array(eps[blk]), pa.array(tfs)],
                    names=["docid", "epoch", "tf"],
                )

    row = (
        postings.select(*BLOCK_COLS)
        .withColumn("epoch", epoch_from_file_path())
        .mapInArrow(gen, "docid long, epoch long, tf long")
        .agg(
            F.countDistinct("docid", "epoch").alias("nd"),
            F.sum("tf").alias("tt"),
            F.count(F.lit(1)).alias("np"),
        )
        .collect()[0]
    )
    return {
        "n_docs": int(row.nd or 0),
        "total_tf": int(row.tt or 0),
        "n_postings": int(row.np or 0),
    }

def _read_epochs(spark: SparkSession, root: str, paths=None):
    """Read epoch dirs under a shard root (``postings/`` or
    ``termstats/``; every epoch dir when ``paths`` is None) as one
    DataFrame, or None when none holds data.  Nested dirs read as one
    partition-discovery group (``basePath``: epoch/bucket partition
    columns); each flat dir reads standalone (bucket is already a data
    column).  The union is by name, so a flat dir's missing ``epoch``
    column is null: every consumer derives per-block epochs from
    ``input_file_name``, which carries the epoch=N path component.
    The layout classifier lives with the layout convention
    (tombstones.epoch_dir_layout)."""
    if paths is None:
        paths = [
            os.path.join(root, n)
            for n in sorted(os.listdir(root))
            if n.startswith("epoch=")
        ]
    lay = {p: epoch_dir_layout(p) for p in paths}
    nested = [p for p in paths if lay[p] == "nested"]
    dfs = [spark.read.option("basePath", root).parquet(*nested)] if nested else []
    dfs += [spark.read.parquet(p) for p in paths if lay[p] == "flat"]
    if not dfs:
        return None
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


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
    postings is a no-op."""
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    have = set(stats.get("epochs") or [])
    epochs = sorted(set(epochs))
    missing = [e for e in epochs if e not in have]
    if missing:
        raise ValueError(f"unknown epochs {missing}; index has {sorted(have)}")
    if len(epochs) < 2:
        raise ValueError("merge_epochs needs at least two epochs")
    block_size = block_size or stats["block_size"]
    target = epochs[-1]
    pdir = os.path.join(index_dir, "postings")
    tdir = os.path.join(index_dir, "termstats")

    sel_paths = [
        p
        for p in (os.path.join(pdir, f"epoch={e}") for e in epochs)
        if os.path.isdir(p)
    ]
    postings = _read_epochs(spark, pdir, sel_paths)
    aside = []
    if postings is None:
        # every selected epoch is manifest-only (empty/stopword-only
        # micro-batches write a manifest but no postings): there is
        # no data to rewrite - just fold the manifests into one so
        # maintain_index, which preferentially picks the smallest
        # epochs, cannot wedge on them
        removed = None
    else:
        deleted = load_tombstones(index_dir)
        removed = (
            _deleted_stats(postings, deleted)
            if deleted is not None
            else None
        )
        # the merged epoch goes through the build's writer into
        # temporary dirs (termstats from the new block metadata)
        tmp_postings = os.path.join(index_dir, "_merge_postings")
        tmp_ts = os.path.join(index_dir, "_merge_termstats")
        for tmp in (tmp_postings, tmp_ts):
            shutil.rmtree(tmp, ignore_errors=True)
        _write_epoch(
            spark, _decoded_cells(postings, deleted), tmp_postings, tmp_ts,
            stats["num_buckets"], stats["num_salts"], block_size,
            num_partitions,
        )
        merged_empty = not _bucket_dirs(tmp_postings)

        # swap, non-destructively: move the merged epochs' dirs ASIDE
        # first, land the target, and only delete the originals after
        # the manifests are updated - a crash mid-way leaves every
        # byte on disk under _old_merge_* instead of losing epochs
        for e in epochs:
            for base in (pdir, tdir):
                live = os.path.join(base, f"epoch={e}")
                if os.path.exists(live):
                    old_p = os.path.join(base, f"_old_merge_epoch={e}")
                    shutil.rmtree(old_p, ignore_errors=True)
                    os.replace(live, old_p)
                    aside.append(old_p)
        if merged_empty:
            # every merged posting was tombstone-masked (or the
            # selected epochs held empty data files): the merge
            # applies the deletes outright - no target dirs land, the
            # originals fold away, and the manifest fold below records
            # the removal
            for tmp in (tmp_postings, tmp_ts):
                shutil.rmtree(tmp, ignore_errors=True)
        else:
            os.replace(tmp_postings, os.path.join(pdir, f"epoch={target}"))
            os.replace(tmp_ts, os.path.join(tdir, f"epoch={target}"))

    # manifests: the merged manifest carries the summed totals minus
    # what the tombstones removed, and the batch build's fingerprint
    # when epoch 0 is folded in (build_index resume looks for it)
    mdir = os.path.join(index_dir, "manifests")
    n_docs = total_tf = n_postings = 0
    carry = {}
    for e in epochs:
        mp = os.path.join(mdir, f"epoch={e}.json")
        if os.path.exists(mp):
            with open(mp) as f:
                m = json.load(f)
            n_docs += int(m.get("n_docs", 0))
            total_tf += int(m.get("total_tf", 0))
            n_postings += int(m.get("n_postings", 0))
            fp = m.get("fingerprint") or m.get("build_fingerprint")
            if fp:
                carry["build_fingerprint"] = fp
            os.remove(mp)
    if removed is not None:
        n_docs -= removed["n_docs"]
        total_tf -= removed["total_tf"]
        n_postings -= removed["n_postings"]
    _atomic_json(
        os.path.join(mdir, f"epoch={target}.json"),
        {
            "epoch": target,
            "status": "complete",
            "merged_from": epochs,
            "n_docs": n_docs,
            "total_tf": total_tf,
            "n_postings": n_postings,
            "applied_at": time.time(),
            **carry,
        },
    )
    out = _rebuild_stats(
        index_dir, stats["num_buckets"], stats["num_salts"], block_size,
        stats["k1"], stats["b"], stats.get("normalize_zht", False),
    )
    for old_p in aside:
        shutil.rmtree(old_p, ignore_errors=True)
    return out


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
        with open(os.path.join(index_dir, "stats.json")) as f:
            cur = json.load(f)
        epochs = sorted(cur.get("epochs") or [])
        if len(epochs) <= max_epochs:
            return stats or cur
        mdir = os.path.join(index_dir, "manifests")
        sizes = {}
        for e in epochs:
            mp = os.path.join(mdir, f"epoch={e}.json")
            try:
                with open(mp) as f:
                    sizes[e] = int(json.load(f).get("n_docs", 0))
            except OSError:
                sizes[e] = 0
        pick = sorted(epochs, key=lambda e: (sizes[e], e))[
            : max(2, merge_factor)
        ]
        stats = merge_epochs(spark, index_dir, pick)
