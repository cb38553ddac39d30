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
``epoch=E/bucket=N`` dirs (:func:`_write_epoch`, the batch build,
large appends and folds), or one flat file per subdir with bucket as
a data column (small appends).  The nested writer's Spark tasks write
their files themselves with pyarrow, one per (bucket, salt) cell of
postings and one per bucket of termstats, each named by its cell or
bucket and landed by an atomic rename, so a retried task rewrites
the same file.  Each epoch's totals live in its manifest,
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
    BLOCK_SCHEMA,
    DEFAULT_BLOCK,
    DEFAULT_BUCKETS,
    DEFAULT_SALTS,
    _atomic_json,
    _doc_cells,
    _encode_cell_blocks,
    _encode_cells,
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
    1 (``upsert_index_batch`` requires the same)."""
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

    # clean any partial files from a failed earlier attempt of this epoch
    for sub in ("postings", "termstats"):
        shutil.rmtree(
            os.path.join(index_dir, sub, f"epoch={epoch}"), ignore_errors=True
        )

    # Small epochs land FLAT: the postings are ONE file in the epoch
    # dir (bucket as a data column), and the per-epoch termstats
    # derive DRIVER-SIDE from that file's block metadata via a
    # column-pruned pyarrow read (n/sum_tf only - the fat binary
    # columns never leave disk).  Both paths run the same 3 Spark jobs
    # per call; the flat path stays for what it leaves behind: one
    # postings file per small epoch instead of B*S, so compaction and
    # local serving read far fewer files.  Measured with 8 interleaved
    # 400-doc appends onto a 3,000-doc index at B=64, S=4, flat vs
    # forced nested: compact_index 3.0 vs 8.5 s (264 vs 2,304
    # postings files), search_local 28 vs 35 ms, append 1.21 vs
    # 1.17 s (0.73 vs 0.98 s at B=8).  The source doc count
    # folds in as an observed metric - counted from the source, not
    # the postings, because docs with empty/stop-word-only text
    # produce no postings yet must count toward N for idf/avgdl
    # parity with a batch rebuild.
    #
    # Large epochs go through the batch build's writer
    # (:func:`_write_epoch`): (bucket, salt)-partitioned reducers
    # (memory bounded by the salt count - the documented skew/scale
    # lever) and nested epoch=/bucket= dirs so query-time bucket
    # pruning stays directory-level.  The size estimate is Catalyst's
    # plan statistic - no extra job.
    from pyspark.sql import Observation

    obs_docs = Observation(f"epoch{epoch}-docs")
    small = _estimated_small(batch)
    cells = _doc_cells(
        batch, docid_col, text_col, num_buckets, num_salts, normalize_zht,
        obs_docs,
    )
    if small:
        # encode with a handful of parallel reducers, then funnel the
        # (tiny) encoded blocks into one output file; the extra
        # funnel shuffle moves kilobytes
        nred = max(1, num_buckets // 4)
        blocks = (
            cells.repartition(nred, cell_partition_key(F.col("bucket"), nred))
            .mapInArrow(
                lambda it: _encode_cells(it, block_size), BLOCK_SCHEMA
            )
            .repartition(1)
        )
        (
            blocks.write.mode("overwrite")
            .option(*_V2_COMMIT)
            .parquet(os.path.join(index_dir, "postings", f"epoch={epoch}"))
        )
        total_tf, n_postings = _write_termstats_local(index_dir, epoch)
    else:
        total_tf, n_postings, _ = _write_epoch(
            spark, cells, *_epoch_dirs(index_dir, epoch), num_buckets,
            num_salts, block_size,
        )
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


# v2 commit: task output moves straight to the destination, one
# rename round instead of two.  Safe because epoch atomicity comes
# from the snapshot commit: a crashed epoch's partial files are
# unlisted, and swept before the epoch is written again.
_V2_COMMIT = ("mapreduce.fileoutputcommitter.algorithm.version", "2")


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
    num_salts: int,
    block_size: int,
    num_partitions: int | None = None,
) -> tuple[int, int, int]:
    """Write packed cells as one NESTED epoch - the one writer of the
    batch build (epoch 0), every large append, ``compact_index`` and
    ``merge_epochs`` (the last two into a new generation's dirs).
    Whatever ``pdir`` and ``tdir`` held before is removed first.

    The tasks write the files themselves, with pyarrow, in two jobs
    after the map side:

    1. ONE exchange places cell ``bucket * num_salts + salt`` on
       partition ``cell % parts`` (collision-free,
       ``xxh64.cell_partition_key``); each encode task
       (:func:`_write_cells`) writes every cell it owns as
       ``pdir/bucket=B/part-sS.parquet`` and returns only the cell's
       ``(bucket, term, df, cf)`` rows;
    2. those rows go through an exchange keyed by bucket, and each
       termstats task (:func:`_write_termstats`) sums its buckets'
       rows per term into ``tdir/bucket=B/part-00000.parquet`` and
       returns its exact ``(total_tf, n_postings, n_terms)``, which
       the driver sums.  Every (bucket, term) lands in one task, so
       ``n_terms`` is exact.

    Every file name is fixed by its cell or bucket and every file
    lands by an atomic rename of a dot-prefixed temp in the same dir
    (:func:`_write_parquet`), so a retried or speculative task rewrites
    the same bytes under the same name and no reader sees a partial
    file.  Returns ``(total_tf, n_postings, n_terms)``, ``(0, 0, 0)``
    for an epoch without postings."""
    for d in (pdir, tdir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    parts = num_partitions or min(
        num_buckets * num_salts, spark.sparkContext.defaultParallelism * 4
    )
    tparts = min(num_buckets, spark.sparkContext.defaultParallelism)
    cell = F.col("bucket") * num_salts + F.col("salt")
    totals = (
        cells.repartition(parts, cell_partition_key(cell, parts))
        .mapInArrow(
            lambda it: _write_cells(it, pdir, block_size),
            "bucket int, term string, df long, cf long",
        )
        .repartition(tparts, cell_partition_key(F.col("bucket"), tparts))
        .mapInArrow(
            lambda it: _write_termstats(it, tdir),
            "total_tf long, n_postings long, n_terms long",
        )
        .collect()
    )
    return tuple(sum(int(r[i]) for r in totals) for i in range(3))


# the blocks' file schema: bucket is the directory, as a hive partition
_BLOCK_FILE_SCHEMA = BLOCK_ARROW_SCHEMA.remove(
    BLOCK_ARROW_SCHEMA.get_field_index("bucket")
)
_TERMSTATS_FILE_SCHEMA = pa.schema(
    [("term", pa.string()), ("df", pa.int64()), ("cf", pa.int64())]
)


def _write_parquet(path: str, schema, batches) -> None:
    """Write ``batches`` as the Parquet file ``path``: into a
    dot-prefixed temp in the same dir (every reader skips those), then
    an atomic rename.  No Arrow schema is stored and ``term``, whose
    values are nearly all distinct, is not dictionary-encoded: both
    keep the files small."""
    d, name = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with pq.ParquetWriter(
            tmp, schema, store_schema=False,
            use_dictionary=[n for n in schema.names if n != "term"],
        ) as w:
            for rb in batches:
                w.write_batch(rb)
        os.replace(tmp, path)
    except BaseException:
        try:
            os.remove(tmp)
        except OSError:
            pass
        raise


def _write_cells(batches, pdir: str, block_size: int):
    """``mapInArrow`` body of the epoch writer's encode tasks: encode
    each packed cell (``build._encode_cell_blocks``), write its blocks
    to ``pdir/bucket=B/part-sS.parquet``, and yield only its
    ``(bucket, term, df, cf)`` rows."""
    for bkt, salt, blocks, term_stats in _encode_cell_blocks(
        batches, block_size
    ):
        _write_parquet(
            os.path.join(pdir, f"bucket={bkt}", f"part-s{salt}.parquet"),
            _BLOCK_FILE_SCHEMA,
            (rb.drop_columns(["bucket"]) for rb in blocks),
        )
        yield term_stats


def _write_termstats(batches, tdir: str):
    """``mapInArrow`` body of the epoch writer's termstats tasks: per
    bucket, sum the cells' ``(term, df, cf)`` rows per term, write
    them in term order to ``tdir/bucket=B/part-00000.parquet``, and
    yield the task's ``(total_tf, n_postings, n_terms)``."""
    batches = list(batches)
    if not sum(rb.num_rows for rb in batches):
        return
    tbl = pa.Table.from_batches(batches)
    total_tf = n_postings = n_terms = 0
    buckets = tbl.column("bucket")
    for bkt in pc.unique(buckets).to_pylist():
        agg = (
            tbl.filter(pc.equal(buckets, bkt))
            .group_by("term")
            .aggregate([("df", "sum"), ("cf", "sum")])
            .sort_by("term")
        )
        out = pa.Table.from_arrays(
            [agg["term"], agg["df_sum"], agg["cf_sum"]],
            schema=_TERMSTATS_FILE_SCHEMA,
        )
        _write_parquet(
            os.path.join(tdir, f"bucket={bkt}", "part-00000.parquet"),
            _TERMSTATS_FILE_SCHEMA, out.to_batches(),
        )
        total_tf += pc.sum(out["cf"]).as_py()
        n_postings += pc.sum(out["df"]).as_py()
        n_terms += out.num_rows
    yield pa.RecordBatch.from_arrays(
        [pa.array([v], pa.int64()) for v in (total_tf, n_postings, n_terms)],
        names=["total_tf", "n_postings", "n_terms"],
    )


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


def _write_termstats_local(index_dir: str, epoch: int):
    """Derive and write a SMALL epoch's termstats on the driver from
    the freshly-written flat postings file's block metadata - a
    column-pruned pyarrow read (bucket/term/n/sum_tf; the fat binary
    posting columns never leave disk) over one small file, replacing
    a whole second Spark job whose fixed cost dominated the per-epoch
    floor.  Returns (total_tf, n_postings) for the manifest."""
    import pyarrow as pa
    import pyarrow.dataset as pds
    import pyarrow.parquet as pq

    edir = os.path.join(index_dir, "postings", f"epoch={epoch}")
    try:
        files = [
            os.path.join(edir, n)
            for n in sorted(os.listdir(edir))
            if n.endswith(".parquet")
        ]
    except FileNotFoundError:
        return 0, 0
    if not files:
        return 0, 0
    tbl = pds.dataset(files).to_table(
        columns=["bucket", "term", "n", "sum_tf"]
    )
    if tbl.num_rows == 0:
        return 0, 0
    pdf = (
        tbl.to_pandas()
        .groupby(["bucket", "term"], as_index=False)
        .agg(df=("n", "sum"), cf=("sum_tf", "sum"))
        .sort_values(["bucket", "term"], kind="stable")
    )
    tdir = os.path.join(index_dir, "termstats", f"epoch={epoch}")
    os.makedirs(tdir, exist_ok=True)
    out = os.path.join(tdir, "part-00000.parquet")
    tmp = out + ".tmp"
    pq.write_table(
        pa.Table.from_pandas(
            pdf[["bucket", "term", "df", "cf"]], preserve_index=False
        ),
        tmp,
    )
    os.replace(tmp, out)
    return int(pdf["cf"].sum()), int(pdf["df"].sum())


_SMALL_EPOCH_BYTES = 256 << 20


def _estimated_small(batch: DataFrame) -> bool:
    """True when Catalyst's size estimate for the micro-batch is under
    ~256 MB of source bytes - the regime where per-file commit costs
    dominate over reducer memory concerns.  Falls back to the
    conservative large-epoch layout when no estimate is available."""
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
    same epoch."""

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
