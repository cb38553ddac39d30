"""Index compaction: merge streaming epochs into one optimal layout.

Incremental appends leave one block sequence per (term, salt, epoch);
queries stay correct (the scorer merges block sequences by docid) but
head terms accumulate many short tails. Compaction decodes all block
rows back to postings, re-sorts per (bucket, salt, term, docid), and
re-encodes full blocks under a single consolidated epoch, swapping
directories atomically and collapsing the epoch manifests.

Blocks turn back into postings through the library's one block
decoder, ``codec.decode_blocks``, which decodes a whole Arrow batch of
block rows at once and drops tombstoned postings with one mask.
Compaction, :func:`merge_epochs`, their tombstone accounting and the
:func:`decode_postings` export call it once per batch, as the query
path and ``validate_index`` do; compaction's postings then go back
through the build's packed-cell encoder.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession, functions as F

from .build import _atomic_json
from .codec import BLOCK_COLS, _gather_bytes, decode_blocks
from .streaming import _rebuild_stats
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
    postings = _read_postings_mixed(spark, index_dir)
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
    :func:`merge_epochs` feed to ``build._cell_blocks``."""
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
    parts = num_partitions or min(
        stats["num_buckets"] * stats["num_salts"],
        spark.sparkContext.defaultParallelism * 4,
    )

    from .build import _cell_blocks

    postings = _read_postings_mixed(spark, index_dir)
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
    blocks = _cell_blocks(
        _decoded_cells(postings, deleted), stats["num_salts"], parts,
        block_size,
    )
    epochs = sorted(stats.get("epochs", [])) or [0]
    new_epoch = epochs[-1]
    tmp_postings = os.path.join(index_dir, "_compact_postings")
    blocks.withColumn("epoch", F.lit(new_epoch)).write.mode(
        "overwrite"
    ).partitionBy("epoch", "bucket").parquet(tmp_postings)

    # termstats: re-aggregate into the flat per-epoch layout (one
    # plain dir, bucket as a data column, one file per bucket) - same
    # shape streaming appends write, so a compacted index plus later
    # epochs keeps a uniform directory depth for partition discovery.
    # Without tombstones the old termstats re-aggregate cheaply; with
    # tombstones applied, per-term df/cf must come from the NEW block
    # metadata (deleted docs no longer count), the same
    # (term, n, sum_tf) derivation the batch build uses.
    tmp_ts = os.path.join(index_dir, "_compact_termstats")
    if removed is None:
        ts = (
            _read_termstats_mixed(spark, index_dir)
            .groupBy("bucket", "term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        )
    else:
        ts = (
            spark.read.parquet(tmp_postings)
            .select("bucket", "term", "n", "sum_tf")
            .groupBy("bucket", "term")
            .agg(F.sum("n").alias("df"), F.sum("sum_tf").alias("cf"))
        )
    (
        ts.repartition(stats["num_buckets"], "bucket")
        .write.mode("overwrite")
        .parquet(os.path.join(tmp_ts, f"epoch={new_epoch}"))
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

    # consolidate epoch manifests into one
    mdir = os.path.join(index_dir, "manifests")
    if any(n.startswith("epoch=") for n in os.listdir(mdir)):
        for name in list(os.listdir(mdir)):
            if name.startswith("epoch=") or name == "base.json":
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
    # compaction rewrote the layout under epoch=<new_epoch> even for a
    # batch-built index: record it so query routing derives scan paths
    stats["epochs"] = [new_epoch]
    stats["avgdl"] = stats["total_tf"] / max(stats["n_docs"], 1)
    stats["compacted_at"] = time.time()
    # record the consolidated totals as an epoch manifest so later
    # appends (which rebuild stats from manifests) keep counting the
    # compacted corpus
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
        },
    )
    _atomic_json(os.path.join(index_dir, "stats.json"), stats)
    if os.path.exists(pending_path):
        os.remove(pending_path)
    return stats


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

def _split_epoch_layouts(paths: list[str]):
    """Partition epoch dirs into NESTED (epoch=/bucket= subdirs) and
    FLAT (files directly in the epoch dir, bucket as a data column -
    the small-epoch streaming layout); dataless dirs drop out.  The
    classifier lives with the layout convention
    (tombstones.epoch_dir_layout)."""
    nested, flat = [], []
    for p in paths:
        lay = epoch_dir_layout(p)
        if lay == "nested":
            nested.append(p)
        elif lay == "flat":
            flat.append(p)
    return nested, flat


def _read_epoch_postings(spark: SparkSession, pdir: str, eps: list[str]):
    """Union postings across epoch dirs of BOTH layouts.  Nested dirs
    read as one partition-discovery group (epoch/bucket partition
    columns); each flat dir reads standalone (bucket is already a
    data column, the epoch is not needed as a column here - every
    consumer derives per-block epochs from input_file_name, which
    still carries the epoch=N path component)."""
    nested, flat = _split_epoch_layouts(eps)
    dfs = []
    if nested:
        dfs.append(spark.read.option("basePath", pdir).parquet(*nested))
    for p in flat:
        dfs.append(spark.read.parquet(p))
    if not dfs:
        return None
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def _read_postings_mixed(spark: SparkSession, index_dir: str):
    """Read the whole postings tree across MIXED layouts (batch
    bucket= dirs at the top level, appended epoch=/bucket= dirs,
    flat small-epoch dirs) as internally-consistent partition-
    discovery groups unioned by name - a single whole-tree read
    would fail with conflicting partition column names."""
    pdir = os.path.join(index_dir, "postings")
    top, eps = [], []
    for name in sorted(os.listdir(pdir)):
        p = os.path.join(pdir, name)
        if not os.path.isdir(p):
            continue
        (top if name.startswith("bucket=") else eps).append(p)
    dfs = []
    if top:
        dfs.append(
            spark.read.option("basePath", pdir)
            .parquet(*top)
            .withColumn("epoch", F.lit(0))
        )
    epochs_df = _read_epoch_postings(spark, pdir, eps)
    if epochs_df is not None:
        dfs.append(epochs_df)
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def _read_termstats_mixed(spark: SparkSession, index_dir: str):
    """Termstats across mixed layouts: batch bucket= dirs (bucket is
    a partition value) plus flat epoch dirs (bucket is a data
    column), normalized to (bucket, term, df, cf)."""
    tdir = os.path.join(index_dir, "termstats")
    top, eps = [], []
    for name in sorted(os.listdir(tdir)):
        p = os.path.join(tdir, name)
        if not os.path.isdir(p):
            continue
        (top if name.startswith("bucket=") else eps).append(p)
    dfs = []
    if top:
        dfs.append(
            spark.read.option("basePath", tdir)
            .parquet(*top)
            .select("bucket", "term", "df", "cf")
        )
    for p in eps:
        dfs.append(
            spark.read.parquet(p).select("bucket", "term", "df", "cf")
        )
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
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
    parts = num_partitions or min(
        stats["num_buckets"] * stats["num_salts"],
        spark.sparkContext.defaultParallelism * 4,
    )
    target = epochs[-1]
    pdir = os.path.join(index_dir, "postings")
    tdir = os.path.join(index_dir, "termstats")

    from .build import _cell_blocks

    sel_paths = [
        p
        for p in (os.path.join(pdir, f"epoch={e}") for e in epochs)
        if os.path.isdir(p)
    ]
    postings = _read_epoch_postings(spark, pdir, sel_paths)
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
        blocks = _cell_blocks(
            _decoded_cells(postings, deleted), stats["num_salts"], parts,
            block_size,
        )
        tmp_postings = os.path.join(index_dir, "_merge_postings")
        shutil.rmtree(tmp_postings, ignore_errors=True)
        blocks.write.mode("overwrite").partitionBy("bucket").parquet(
            tmp_postings
        )
        merged_empty = not any(
            f.endswith(".parquet")
            for _r, _d, fs in os.walk(tmp_postings)
            for f in fs
        )

        tmp_ts = os.path.join(index_dir, "_merge_termstats")
        shutil.rmtree(tmp_ts, ignore_errors=True)
        if not merged_empty:
            # merged termstats derive from the new block metadata
            # (flat layout, bucket as a data column - same shape epoch
            # appends use)
            (
                spark.read.parquet(tmp_postings)
                .select("bucket", "term", "n", "sum_tf")
                .groupBy("bucket", "term")
                .agg(F.sum("n").alias("df"), F.sum("sum_tf").alias("cf"))
                .repartition(stats["num_buckets"], "bucket")
                .write.mode("overwrite")
                .parquet(tmp_ts)
            )

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
            shutil.rmtree(tmp_postings, ignore_errors=True)
        else:
            os.replace(tmp_postings, os.path.join(pdir, f"epoch={target}"))
            os.replace(tmp_ts, os.path.join(tdir, f"epoch={target}"))

    # manifests: the merged manifest carries the summed totals minus
    # what the tombstones removed
    mdir = os.path.join(index_dir, "manifests")
    n_docs = total_tf = n_postings = 0
    for e in epochs:
        mp = os.path.join(mdir, f"epoch={e}.json")
        if os.path.exists(mp):
            with open(mp) as f:
                m = json.load(f)
            n_docs += int(m.get("n_docs", 0))
            total_tf += int(m.get("total_tf", 0))
            n_postings += int(m.get("n_postings", 0))
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
