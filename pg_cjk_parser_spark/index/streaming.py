"""Incremental / streaming index maintenance: the epoch protocol.

An index is a sequence of epochs, and every writer uses one protocol.
The batch build is epoch 0; appends add epochs 1, 2, ...  The layout
lets epochs compose:

* posting blocks are self-contained (docids+tfs+doclens+positions per
  block) and the query engine treats every block independently - a
  term may own many block sequences (salt shards, epochs) and the
  per-salt scorer merges them by docid;
* per-block score bounds are avgdl-free (max_tf, min_dl), so changing
  corpus stats never invalidates written blocks;
* term df is summed across shards at query time, so per-epoch
  termstats rows just add up.

An epoch's postings and termstats share one layout: nested
``epoch=E/bucket=N`` dirs (the batch build, large appends and folds),
or one flat ``part-00000.parquet`` per subdir with bucket as a data
column (small appends), written by :func:`_write_epoch` and
:func:`_write_flat_epoch`.  Their Spark tasks write the files
themselves with pyarrow, each named by its cell, bucket or epoch and
landed by an atomic rename, so a retried task rewrites the same
file.  Each epoch's totals live in its manifest,
``manifests/epoch=E.json``, written atomically after its data.

stats.json is the index's SNAPSHOT and its one commit point: it
lists the epochs every reader serves, each with its generation, and
carries their manifests' summed totals.  Every writer ends with one
atomic write of it (:func:`_rebuild_stats`), so a crash before that
write leaves nothing a reader sees, and a re-delivered batch whose
manifest already landed only commits (foreachBatch at-least-once ->
exactly-once effect).  A fold (index/compact.py) rewrites epochs into
a new generation, dirs ``epoch=E.gG`` and manifest
``epoch=E.gG.json`` that no snapshot lists yet, and commits the same
way; an epoch dir no snapshot lists is invisible.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from .build import (
    BLOCK_ARROW_SCHEMA,
    DEFAULT_BLOCK,
    DEFAULT_BUCKETS,
    DEFAULT_SALTS,
    _BATCH_BYTES,
    _atomic_json,
    _doc_cells,
    _encode_cell_blocks,
    _with_docid,
)
from .tombstones import epoch_name, snapshot_epochs
from .xxh64 import cell_partition_key


def _stats_path(index_dir: str) -> str:
    return os.path.join(index_dir, "stats.json")


def _load_snapshot(index_dir: str) -> dict:
    """The committed snapshot, stats.json."""
    with open(_stats_path(index_dir)) as f:
        return json.load(f)


def _listed_gen(index_dir: str, epoch: int) -> int:
    """The generation the snapshot lists for ``epoch`` (0 for an
    unlisted epoch and before the first commit)."""
    try:
        return snapshot_epochs(_load_snapshot(index_dir)).get(epoch, 0)
    except OSError:
        return 0


def _epoch_manifest(index_dir: str, epoch: int, gen: int = 0) -> str:
    return os.path.join(index_dir, "manifests", f"{epoch_name(epoch, gen)}.json")


def _read_manifest(index_dir: str, epoch: int, gen: int = 0) -> dict:
    with open(_epoch_manifest(index_dir, epoch, gen)) as f:
        return json.load(f)


def _build_fingerprint(index_dir: str) -> str | None:
    """Corpus fingerprint of the batch build the index holds, from its
    complete epoch manifests: epoch 0's carries it as ``fingerprint``,
    and one that folded epoch 0 in (``compact_index``,
    ``merge_epochs``) as ``build_fingerprint`` - its own key, so the
    append re-delivery guard, which looks for ``fingerprint``, still
    fires on epoch 0 only.  None when no build is recorded."""
    mdir = os.path.join(index_dir, "manifests")
    try:
        names = sorted(os.listdir(mdir))
    except OSError:
        return None
    for name in names:
        if not (name.startswith("epoch=") and name.endswith(".json")):
            continue
        try:
            with open(os.path.join(mdir, name)) as f:
                m = json.load(f)
        except (OSError, ValueError):
            continue
        fp = m.get("fingerprint") or m.get("build_fingerprint")
        if m.get("status") == "complete" and fp:
            return fp
    return None


def _resolve_layout(
    index_dir: str,
    num_buckets,
    num_salts,
    block_size,
    k1,
    b,
    normalize_zht,
):
    """Resolve layout parameters against an existing index's
    stats.json: omitted values INHERIT, explicit values must MATCH -
    appending with a different bucket/salt count would write postings
    that query routing can never find (terms hash to different
    buckets), and a normalize_zht flip would change query-side
    normalization for the whole index.  Fail loudly instead."""
    try:
        stats = _load_snapshot(index_dir)
    except OSError:
        stats = None
    resolved = {}
    for name, val, default in (
        ("num_buckets", num_buckets, DEFAULT_BUCKETS),
        ("num_salts", num_salts, DEFAULT_SALTS),
        ("block_size", block_size, DEFAULT_BLOCK),
        ("k1", k1, 1.2),
        ("b", b, 0.75),
        ("normalize_zht", normalize_zht, False),
    ):
        have = stats.get(name) if stats else None
        if val is None:
            resolved[name] = have if have is not None else default
        elif have is not None and val != have:
            raise ValueError(
                f"append/upsert {name}={val!r} conflicts with the "
                f"existing index's {name}={have!r} (stats.json); "
                "omit the parameter to inherit it"
            )
        else:
            resolved[name] = val
    return resolved


def append_index_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    epoch: int,
    docid_col: str | None = None,
    text_col: str = "text",
    num_buckets: int | None = None,
    num_salts: int | None = None,
    block_size: int | None = None,
    k1: float | None = None,
    b: float | None = None,
    normalize_zht: bool | None = None,
) -> dict:
    """Append one micro-batch to the index as epoch ``epoch``;
    idempotent per epoch.

    A batch-built index is epoch 0, so appends onto it start at epoch
    1 (``upsert_index_batch`` requires the same).

    An append does not replace documents: a docid still live in an
    earlier epoch must go through ``upsert_index_batch``, since
    appending it leaves two live versions and every query entry point
    then returns both."""
    lay = _resolve_layout(
        index_dir, num_buckets, num_salts, block_size, k1, b,
        normalize_zht,
    )
    num_buckets = lay["num_buckets"]
    num_salts = lay["num_salts"]
    block_size = lay["block_size"]
    k1 = lay["k1"]
    b = lay["b"]
    normalize_zht = lay["normalize_zht"]
    os.makedirs(os.path.join(index_dir, "manifests"), exist_ok=True)
    # a listed epoch may live in a fold's later generation
    gen = _listed_gen(index_dir, epoch)
    mpath = _epoch_manifest(index_dir, epoch, gen)
    if os.path.exists(mpath):
        with open(mpath) as f:
            if "fingerprint" in json.load(f):
                # re-delivery would silently drop this batch
                raise ValueError(
                    f"epoch {epoch} holds the batch build; appends onto "
                    "a built index start at epoch 1"
                )
        # re-delivered batch: already applied; commit it in case a
        # crash came between its manifest and the snapshot write
        return _rebuild_stats(
            index_dir, num_buckets, num_salts, block_size, k1, b,
            normalize_zht, add={epoch: gen},
        )

    # Small epochs land FLAT, one postings and one termstats file
    # written by ONE task: compaction and local serving then read one
    # file per small epoch instead of B*S.  Measured with 8
    # interleaved 400-doc appends onto a 3,000-doc index at B=64,
    # S=4, flat vs forced nested: compact_index 3.0 vs 8.5 s (264 vs
    # 2,304 postings files), search_local 28 vs 35 ms.  Large epochs
    # land NESTED, in (bucket, salt)-partitioned tasks (memory bounded
    # by the salt count, the skew/scale lever) and epoch=/bucket= dirs
    # for directory-level bucket pruning.  "Small" is Catalyst's plan
    # size estimate (_estimated_small) - no extra job.  The source doc
    # count folds in as an observed metric: docs with empty/stop-word-
    # only text produce no postings yet count toward N, for idf/avgdl
    # parity with a batch rebuild.
    from pyspark.sql import Observation

    obs_docs = Observation(f"epoch{epoch}-docs")
    cells = _doc_cells(
        batch, docid_col, text_col, num_buckets, num_salts, normalize_zht,
        obs_docs,
    )
    pdir, tdir = _epoch_dirs(index_dir, epoch)
    if _estimated_small(batch):
        totals = _write_flat_epoch(cells, pdir, tdir, block_size)
    else:
        totals = _write_epoch(spark, cells, pdir, tdir, num_buckets, block_size)
    total_tf, n_postings, _ = totals
    n_batch_docs = _obs_count(obs_docs, "n_docs")

    # exactly-once accounting: the epoch's deltas live in its manifest
    # (written atomically); the snapshot commit lists the epoch and
    # sums the listed manifests, so a crash at any point before the
    # commit leaves no trace and redelivery cannot double-count.
    _atomic_json(
        mpath,
        {
            "epoch": epoch,
            "status": "complete",
            "n_docs": int(n_batch_docs),
            "total_tf": total_tf,
            "n_postings": n_postings,
            "applied_at": time.time(),
        },
    )
    return _rebuild_stats(
        index_dir, num_buckets, num_salts, block_size, k1, b, normalize_zht,
        add={epoch: 0},
    )


def _epoch_dirs(index_dir: str, epoch: int, gen: int = 0) -> tuple[str, str]:
    """An epoch generation's (postings, termstats) dirs."""
    return tuple(
        os.path.join(index_dir, sub, epoch_name(epoch, gen))
        for sub in ("postings", "termstats")
    )


def _write_epoch(
    spark: SparkSession,
    cells: DataFrame,
    pdir: str,
    tdir: str,
    num_buckets: int,
    block_size: int,
    num_partitions: int | None = None,
) -> tuple[int, int, int]:
    """Write packed cells as one NESTED epoch - the writer of the batch
    build (epoch 0), large appends, ``compact_index`` and
    ``merge_epochs`` (the last two into a new generation's dirs).
    Whatever ``pdir`` and ``tdir`` held before is removed first.

    ONE exchange places bucket ``B`` on partition ``B % parts``
    (collision-free, ``xxh64.cell_partition_key``), so all salt cells
    of a bucket land in one writer task (:func:`_write_cells`), which
    writes each cell as ``pdir/bucket=B/part-sS.parquet`` and, after
    the bucket's last cell, the bucket's summed per-term rows as
    ``tdir/bucket=B/part-00000.parquet``: one job after the map side.
    ``parts`` is ``num_partitions`` or 4 tasks per core, at most
    ``num_buckets`` (a task beyond that would get no bucket).

    Every file name is fixed by its cell or bucket and lands by an
    atomic rename (:func:`_write_parquet`), so a retried or
    speculative task rewrites the same bytes under the same name and
    no reader sees a partial file.  Returns the tasks' summed
    ``(total_tf, n_postings, n_terms)``, exact because every (bucket,
    term) lands in one task; ``(0, 0, 0)`` and no file for an epoch
    without postings."""
    _reset_dirs(pdir, tdir)
    parts = min(
        num_partitions or spark.sparkContext.defaultParallelism * 4,
        num_buckets,
    )
    return _sum_totals(
        cells.repartition(parts, cell_partition_key(F.col("bucket"), parts))
        .mapInArrow(
            lambda it: _write_cells(it, block_size, _nested_files(pdir, tdir)),
            _TOTALS_SCHEMA,
        )
    )


def _write_flat_epoch(
    cells: DataFrame, pdir: str, tdir: str, block_size: int
) -> tuple[int, int, int]:
    """Write packed cells as one FLAT epoch (small appends) in one job
    after the map side: ONE exchange sends every cell to one
    :func:`_write_cells` task, which writes ``pdir/part-00000.parquet``
    and ``tdir/part-00000.parquet``.  Dirs, file landing and totals as
    for :func:`_write_epoch`.  That task holds all of the epoch's
    packed cells, so only batches :func:`_estimated_small` admits come
    here."""
    _reset_dirs(pdir, tdir)
    return _sum_totals(
        cells.repartition(1).mapInArrow(
            lambda it: _write_cells(it, block_size, _flat_files(pdir, tdir)),
            _TOTALS_SCHEMA,
        )
    )


def _reset_dirs(*dirs: str) -> None:
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)


def _sum_totals(totals: DataFrame) -> tuple[int, int, int]:
    """Run the writer job; sum its tasks' totals rows."""
    rows = totals.collect()
    return tuple(sum(int(r[i]) for r in rows) for i in range(3))


_TOTALS_SCHEMA = "total_tf long, n_postings long, n_terms long"
# termstats rows: per (bucket, term) document and collection frequency
_TERMSTATS_SCHEMA = pa.schema(
    [
        ("bucket", pa.int32()), ("term", pa.string()), ("df", pa.int64()),
        ("cf", pa.int64()),
    ]
)
# nested files' schemas: bucket is the directory, as a hive partition
_BLOCK_FILE_SCHEMA = BLOCK_ARROW_SCHEMA.remove(
    BLOCK_ARROW_SCHEMA.get_field_index("bucket")
)
_TERMSTATS_FILE_SCHEMA = _TERMSTATS_SCHEMA.remove(
    _TERMSTATS_SCHEMA.get_field_index("bucket")
)


def _nested_files(pdir: str, tdir: str):
    """A nested epoch's files for :func:`_write_cells`: one per
    (bucket, salt) cell and one termstats file per bucket."""
    return (
        lambda b, s: os.path.join(pdir, f"bucket={b}", f"part-s{s}.parquet"),
        _BLOCK_FILE_SCHEMA,
        lambda b: os.path.join(tdir, f"bucket={b}", "part-00000.parquet"),
        _TERMSTATS_FILE_SCHEMA,
    )


def _flat_files(pdir: str, tdir: str):
    """A flat epoch's files for :func:`_write_cells`: one postings and
    one termstats file, bucket a data column of both."""
    return (
        lambda b, s: os.path.join(pdir, "part-00000.parquet"),
        BLOCK_ARROW_SCHEMA,
        lambda b: os.path.join(tdir, "part-00000.parquet"),
        _TERMSTATS_SCHEMA,
    )


def _write_parquet(path: str, schema, batches) -> None:
    """Write ``batches`` as the Parquet file ``path``: into a
    dot-prefixed temp in the same dir (every reader skips those), then
    an atomic rename.  Consecutive batches share a row group while
    they fit in ``_BATCH_BYTES``: a flat epoch's file holds B*S small
    cells, and readers pay per row group they scan (a row group per
    cell made ``search_local`` 10x slower).  A cell's own batches never
    share one, since the block slicer cuts them so that two in a row
    pass ``_BATCH_BYTES``, so a nested file keeps a row group per
    batch.  No Arrow schema is stored and ``term``, whose values are
    nearly all distinct, is not dictionary-encoded: both keep the files
    small.  Only ``schema``'s columns of a batch are written."""
    d, name = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with pq.ParquetWriter(
            tmp, schema, store_schema=False,
            use_dictionary=[n for n in schema.names if n != "term"],
        ) as w:
            group, size = [], 0
            for rb in batches:
                rb = rb.select(schema.names)
                if group and size + rb.nbytes > _BATCH_BYTES:
                    w.write_table(pa.Table.from_batches(group, schema))
                    group, size = [], 0
                group.append(rb)
                size += rb.nbytes
            if group:
                w.write_table(pa.Table.from_batches(group, schema))
        os.replace(tmp, path)
    except BaseException:
        try:
            os.remove(tmp)
        except OSError:
            pass
        raise


def _write_cells(batches, block_size: int, files):
    """``mapInArrow`` body of both writers' tasks: encode the task's
    packed cells (``build._encode_cell_blocks``, in (bucket, salt)
    order), stream each cell's blocks into the postings file
    ``files`` names for it - consecutive cells naming one file share
    it - and after the last cell of a termstats file, write their
    per-(bucket, term) sums (:func:`_sum_termstats`) to it and yield
    their ``(total_tf, n_postings, n_terms)``.  Without postings it
    writes no file.  ``files`` is :func:`_nested_files` or
    :func:`_flat_files`."""
    block_path, block_schema, stats_path, stats_schema = files
    for path, group in itertools.groupby(
        _encode_cell_blocks(batches, block_size),
        lambda cell: stats_path(cell[0]),
    ):
        term_stats = []
        for bpath, cells in itertools.groupby(
            group, lambda cell: block_path(cell[0], cell[1])
        ):
            _write_parquet(bpath, block_schema, _blocks(cells, term_stats))
        tbl = _sum_termstats(term_stats)
        _write_parquet(path, stats_schema, tbl.to_batches())
        yield _totals(tbl)


def _blocks(cells, term_stats: list):
    """The encoded ``cells``' blocks, cell by cell; each cell's
    per-term rows go to ``term_stats`` as its blocks are taken."""
    for _, _, blocks, cell_stats in cells:
        term_stats.append(cell_stats)
        yield from blocks


def _sum_termstats(batches) -> pa.Table:
    """The cells' ``(bucket, term, df, cf)`` rows summed per (bucket,
    term), in (bucket, term) order: the termstats rows of both
    layouts."""
    agg = (
        pa.Table.from_batches(batches)
        .group_by(["bucket", "term"])
        .aggregate([("df", "sum"), ("cf", "sum")])
        .sort_by([("bucket", "ascending"), ("term", "ascending")])
    )
    return pa.Table.from_arrays(
        [agg["bucket"], agg["term"], agg["df_sum"], agg["cf_sum"]],
        schema=_TERMSTATS_SCHEMA,
    )


def _totals(tbl: pa.Table) -> pa.RecordBatch:
    """The ``(total_tf, n_postings, n_terms)`` row of termstats rows."""
    return pa.RecordBatch.from_pydict({
        "total_tf": [pc.sum(tbl["cf"]).as_py()],
        "n_postings": [pc.sum(tbl["df"]).as_py()],
        "n_terms": [tbl.num_rows],
    })


def _obs_count(obs, key) -> int:
    """Observed metric with an empty-plan fallback: Catalyst's
    PropagateEmptyRelation can optimize the CollectMetrics node out
    of a provably-empty plan (e.g. a literal empty micro-batch), in
    which case the metric row never materializes and reading it
    raises - the plan was empty, so the count is 0."""
    try:
        return int(obs.get[key] or 0)
    except Exception:
        return 0


# The flat writer's one task encodes the whole epoch serially and
# holds all of its packed cells, where the nested writer encodes in
# parallel (bucket, salt) tasks.  On 4 vCPUs (synth parquet batches,
# B=64, S=4) the one task appended faster at 6k docs, even at 15k (a
# 2.0 MB estimate) and slower from 40k (5.4 MB) on: ~30% at 150k
# docs, where it peaked at 466 MB RSS.
_SMALL_EPOCH_BYTES = 2 << 20


def _estimated_small(batch: DataFrame) -> bool:
    """True when Catalyst's size estimate for the micro-batch is under
    ``_SMALL_EPOCH_BYTES`` (2 MiB) of source bytes: a batch for the
    flat layout's one writer task.  Falls back to the conservative
    large-epoch layout when no estimate is available."""
    try:
        est = int(
            str(
                batch._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
        return 0 < est < _SMALL_EPOCH_BYTES
    except Exception:
        return False


def _rebuild_stats(
    index_dir, num_buckets, num_salts, block_size, k1, b,
    normalize_zht: bool = False, extra: dict | None = None,
    add: dict | None = None, drop=(),
) -> dict:
    """Commit a new snapshot: stats.json listing the committed
    snapshot's epochs minus ``drop`` plus ``add`` (``{epoch:
    generation}``), with the totals of their manifests, in ONE atomic
    write - the commit point of every writer.  The committed snapshot
    is read here, right before the write, so an epoch another writer
    committed meanwhile stays listed."""
    try:
        old = _load_snapshot(index_dir)
    except OSError:
        old = {}
    listing = {
        e: g for e, g in snapshot_epochs(old).items() if e not in drop
    }
    listing.update(add or {})
    n_docs = total_tf = n_postings = 0
    for e, g in listing.items():
        m = _read_manifest(index_dir, e, g)
        n_docs += int(m.get("n_docs", 0))
        total_tf += int(m.get("total_tf", 0))
        n_postings += int(m.get("n_postings", 0))
    stats = {
        "n_docs": n_docs,
        "avgdl": total_tf / max(n_docs, 1),
        "total_tf": total_tf,
        "n_postings": n_postings,
        "num_buckets": num_buckets,
        "num_salts": num_salts,
        "block_size": block_size,
        "k1": k1,
        "b": b,
        "fingerprint": "streaming",
        "normalize_zht": bool(normalize_zht),
        "epochs": sorted(listing),
        "epoch_gens": {str(e): g for e, g in sorted(listing.items()) if g},
    }
    # carry the tombstone-generation bookkeeping (see
    # tombstones.load_tombstones): appends must not reset it, or a
    # racing explicit-upto delete loses its clamp and a leftover
    # applied tombstone loses its skip entry
    for key in ("compact_gen", "applied_tombstones"):
        if key in old:
            stats[key] = old[key]
    if extra:
        stats.update(extra)
    _atomic_json(_stats_path(index_dir), stats)
    return stats


def stream_index(
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    **kwargs,
):
    """Structured Streaming sink: incremental index maintenance via
    foreachBatch (exactly-once per epoch through the manifest).

    Micro-batch ``batchId`` lands as epoch ``batchId + 1``: epoch 0
    is the batch build's, so the sink works onto a built index as
    onto an empty one, and the offset is fixed - batchIds come from
    the checkpoint, so a restarted query re-delivers a batch to the
    same epoch.  Each batch is appended (``append_index_batch``), so a
    stream must not carry a docid still live in an earlier epoch: it
    would leave two live versions, and every query entry point returns
    both; updates go through ``upsert_index_batch``."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        append_index_batch(
            batch.sparkSession, batch, index_dir, int(batch_id) + 1,
            **kwargs,
        )

    return (
        docs_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def upsert_index_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    epoch: int,
    docid_col: str | None = None,
    **kwargs,
) -> dict:
    """UPDATE parity: re-index a batch of documents, replacing any
    existing versions.  Tombstones the batch's docids for every epoch
    BELOW ``epoch`` (the batch build is epoch 0),
    then appends the new versions as epoch ``epoch`` - queries see
    exactly one version per doc with no rewrite of existing data;
    ``compact_index`` later folds the masked versions out physically.

    Mixed inserts and updates in one batch are fine (tombstoning an
    id with no prior version is harmless); re-delivery is idempotent
    via the epoch manifest like ``append_index_batch``.

    Bounded costs, stated: the batch's docids collect to the driver
    for the tombstone write (micro-batch sized); corpus stats count
    BOTH versions of an updated doc until compaction (Lucene's
    maxDoc-vs-deletions behavior) - compaction restores exact
    counts."""
    from .tombstones import delete_docs

    if epoch <= 0:
        raise ValueError(
            "upsert_index_batch needs epoch >= 1: the batch build "
            "is epoch 0, so an epoch-0 upsert could "
            "never mask the versions it replaces (streaming sinks "
            "should use batchId + 1)"
        )
    mpath = _epoch_manifest(index_dir, epoch, _listed_gen(index_dir, epoch))
    if not os.path.exists(mpath):
        # the SAME docid derivation the indexing path uses (incl. its
        # cast to long), so tombstoned ids always equal indexed ids
        ids = [
            r[0]
            for r in _with_docid(batch, docid_col)
            .select("docid")
            .collect()
        ]
        delete_docs(index_dir, ids, upto_epoch=epoch - 1)
    return append_index_batch(
        spark, batch, index_dir, epoch, docid_col=docid_col, **kwargs
    )
