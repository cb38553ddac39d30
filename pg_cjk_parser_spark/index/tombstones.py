"""Document deletion + update via epoch-bounded tombstones (the
Lucene/Elasticsearch live-docs pattern, giving PG DELETE/UPDATE
parity on an append-only index).

``delete_docs`` appends a (docid, upto_epoch) list under
``<index>/tombstones/``; no index data is rewritten.  A tombstone
masks the doc's postings in every epoch <= ``upto_epoch`` (a plain
DELETE bounds at the current max epoch, so later re-inserts stay
visible), so an UPDATE is
``delete_docs(ids, upto_epoch=e-1)`` followed by appending the new
versions as epoch ``e`` - the old version disappears, the new one
serves (``upsert_index_batch`` in index/streaming.py packages
exactly that).  The batch build is epoch 0 of the same epoch
protocol (index/streaming.py), so a tombstone bounds its postings
like any appended epoch's.

Every reader drops tombstoned postings as it decodes them: the one
block decoder, ``codec.decode_blocks``, applies ONE ``alive_mask``
with each posting's epoch, so on the query path deleted docs can
neither match nor occupy WAND heap slots, while corpus statistics (n_docs, avgdl, df) stay as built -
exactly Lucene's live-docs behavior - until ``compact_index``
applies the tombstones physically and refreshes the statistics.
Compaction commits the applied file names and its generation bump in
the same stats.json write that lists the rewritten epoch, and
removes the files only after that commit.

The module also homes the epoch layout convention every reader
shares (:func:`epoch_name`, :func:`snapshot_epochs`,
:func:`epoch_dir_layout`, :func:`path_epoch`).  A fold rewrites an
epoch under its own number into a new generation dir
``epoch=E.gG``, so a tombstone keeps bounding the rewritten postings
by their real epoch E.

Scale note: the tombstone set ships to executors inside the task
closure as two sorted int64 arrays; at ~16 bytes/doc that is fine
into the millions.  Past that, compact - a 100 TB deployment treats
a large tombstone backlog as compaction pressure, not a steady
state.
"""

from __future__ import annotations

import json
import os
import re
import uuid

import numpy as np

# unbounded delete: masks every epoch
NO_EPOCH_LIMIT = 1 << 62


def _tomb_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "tombstones")


def current_max_epoch(index_dir: str) -> int:
    """The largest epoch the index holds right now (0 for a freshly
    built index, and when stats.json lists no epochs)."""
    import json

    spath = os.path.join(index_dir, "stats.json")
    try:
        with open(spath) as f:
            eps = json.load(f).get("epochs") or []
        return max(eps) if eps else 0
    except OSError:
        return 0


def delete_docs(
    index_dir: str, docids, upto_epoch: int | None = None
) -> int:
    """Mark documents deleted in every epoch <= ``upto_epoch``
    (default: the index's CURRENT max epoch - a plain DELETE "as of
    now", so a later re-insert of the same docid in a NEWER epoch is
    visible again, matching PG DELETE-then-INSERT).  Pass
    ``NO_EPOCH_LIMIT`` explicitly for a delete that also swallows
    future versions.  Accepts any iterable of ints; append-only and
    idempotent - re-deleting an id, or deleting one that never
    existed, is harmless (though a tombstone for an id that was
    indexed with NO postings - empty/stopword-only text - cannot be
    told apart from a nonexistent id, so such a doc keeps counting in
    the corpus stats after compaction; Lucene shares the ambiguity).

    Concurrency: the default bound is safe to issue while a
    compaction runs (it equals the consolidated epoch the survivors
    are rewritten under, so it keeps masking).  An EXPLICIT
    ``upto_epoch`` below the current max that races a compaction
    loses per-epoch precision - the compaction's commit collapses
    version identity - but it does NOT unmask: each tombstone file is
    stamped with the index's compaction generation, and
    :func:`load_tombstones` clamps a file from BEFORE that commit
    whose bound is below the minimum live epoch up to that epoch
    (delete-wins).  A below-minimum bound written AFTER a
    compaction (current generation) targets epochs that no longer
    exist and is a no-op, and a file the compaction already applied
    (recorded in stats.json) is ignored outright - so replaying a
    delete+reinsert's tombstone can never destroy the reinserted
    version."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = np.unique(np.asarray(list(docids), dtype=np.int64))
    if not ids.size:
        return 0
    upto = (
        current_max_epoch(index_dir)
        if upto_epoch is None
        else int(upto_epoch)
    )
    gen = _current_gen(index_dir)
    d = _tomb_dir(index_dir)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"del-{uuid.uuid4().hex}.parquet")
    tmp = path + ".tmp"
    pq.write_table(
        pa.table(
            {
                "docid": pa.array(ids, pa.int64()),
                "upto": pa.array(
                    np.full(ids.size, upto, np.int64), pa.int64()
                ),
                "gen": pa.array(
                    np.full(ids.size, gen, np.int64), pa.int64()
                ),
            }
        ),
        tmp,
    )
    os.replace(tmp, path)
    return int(ids.size)


def _current_gen(index_dir: str) -> int:
    """The index's compaction generation (0 until the first
    compaction; bumped in every compaction's snapshot commit)."""
    import json

    try:
        with open(os.path.join(index_dir, "stats.json")) as f:
            return int(json.load(f).get("compact_gen", 0))
    except (OSError, ValueError):
        return 0


def list_tombstone_files(index_dir: str) -> list[str]:
    """Current tombstone file names (snapshot them BEFORE a long
    compaction so concurrently-arriving deletes are neither applied
    nor cleared)."""
    d = _tomb_dir(index_dir)
    if not os.path.isdir(d):
        return []
    return sorted(
        n for n in os.listdir(d) if n.endswith(".parquet")
    )


def load_tombstones(index_dir: str, files: list[str] | None = None):
    """``(docids, upto)`` - sorted unique docids with each id's MAX
    epoch bound - or None when nothing is deleted.  ``files`` limits
    the read to a snapshot from :func:`list_tombstone_files`.

    Compaction-race handling (generation-stamped, see
    :func:`delete_docs`): a file the last compaction already applied
    (its name is journaled in stats.json ``applied_tombstones``, in
    the same snapshot commit as the generation bump) is SKIPPED - its
    targets are physically gone, and re-activating it would destroy a
    delete+reinsert's spared new version.  A surviving file from an
    OLDER generation with a bound below every live epoch was written
    against pre-compaction epochs and raced the commit: its bound is
    clamped up to the minimum live epoch (delete-wins).  A
    CURRENT-generation below-minimum bound targets epochs that no
    longer exist and naturally masks nothing (no-op by
    construction)."""
    import pyarrow.parquet as pq

    d = _tomb_dir(index_dir)
    if not os.path.isdir(d):
        return None
    # generation / applied-journal / minimum-live-epoch snapshot; all
    # three come from the SAME stats read so a concurrent compaction
    # cannot tear them apart (before its commit: old gen + old epochs;
    # after: new gen + applied list + new epochs)
    cur_gen, applied, min_ep = 0, frozenset(), None
    try:
        with open(os.path.join(index_dir, "stats.json")) as f:
            st = json.load(f)
        cur_gen = int(st.get("compact_gen", 0))
        applied = frozenset(st.get("applied_tombstones") or ())
        min_ep = int(min(st.get("epochs") or [0]))
    except (OSError, ValueError):
        pass  # no stats yet (index mid-build): nothing to clamp to
    ids_l, upto_l = [], []
    names = files if files is not None else sorted(os.listdir(d))
    for name in names:
        if name in applied or not name.endswith(".parquet"):
            continue
        if not os.path.exists(os.path.join(d, name)):
            continue
        t = pq.read_table(os.path.join(d, name))
        ids_l.append(t["docid"].to_numpy().astype(np.int64))
        if "upto" in t.column_names:
            u = t["upto"].to_numpy().astype(np.int64)
        else:  # pre-epoch tombstone files: unbounded
            u = np.full(len(t), NO_EPOCH_LIMIT, np.int64)
        if min_ep is not None:
            file_gen = (
                int(t["gen"][0].as_py())
                if "gen" in t.column_names and len(t)
                else 0
            )
            if file_gen < cur_gen:
                u = np.maximum(u, min_ep)
        upto_l.append(u)
    if not ids_l:
        return None
    ids = np.concatenate(ids_l)
    upto = np.concatenate(upto_l)
    if not ids.size:
        return None
    srt = np.lexsort((upto, ids))
    ids, upto = ids[srt], upto[srt]
    # per-id max bound: lexsort put the largest upto last per id
    last = np.concatenate((ids[1:] != ids[:-1], [True]))
    ids, upto = ids[last], upto[last]
    return ids, upto


def clear_tombstones(index_dir: str) -> None:
    """Remove every tombstone file: the deletes no longer mask."""
    import shutil

    shutil.rmtree(_tomb_dir(index_dir), ignore_errors=True)


def alive_mask(
    ids: np.ndarray, deleted, epochs: np.ndarray | int | None = None
) -> np.ndarray | None:
    """Boolean mask of postings that SURVIVE the tombstones: a
    posting dies when its docid is tombstoned with
    ``upto >= its epoch``.  ``epochs`` is a per-posting array, a
    scalar (whole block from one epoch), or None (treat as epoch
    0).  Returns None when nothing dies (callers skip the
    filter)."""
    if deleted is None or not ids.size:
        return None
    dids, upto = deleted
    if not dids.size:
        return None
    j = np.searchsorted(dids, ids)
    jc = np.minimum(j, dids.size - 1)
    hit = (j < dids.size) & (dids[jc] == ids)
    if epochs is None:
        epochs = 0
    hit &= upto[jc] >= epochs
    return None if not hit.any() else ~hit


def epoch_dir_layout(path: str) -> str | None:
    """Physical layout of one epoch shard dir - the other half of the
    layout convention this module homes: ``'nested'`` (bucket=
    subdirs: the build, large appends and folds), ``'flat'`` (one
    ``part-00000.parquet`` directly in the dir with bucket as a data
    column: small appends), or ``None`` (no data: a missing dir, or
    an epoch without postings, whose dirs hold no file).
    Query routing and compaction readers share this classifier."""
    try:
        names = os.listdir(path)
    except OSError:
        return None
    if any(n.startswith("bucket=") for n in names):
        return "nested"
    if any(n.endswith(".parquet") for n in names):
        return "flat"
    return None


def epoch_name(epoch: int, gen: int = 0) -> str:
    """Dir (and manifest) name of an epoch's generation ``gen``:
    ``epoch=E`` for generation 0, the one appends and the build
    write, and ``epoch=E.gG`` for the G-th rewrite by a fold
    (compaction or merge), which keeps the epoch's number."""
    return f"epoch={epoch}.g{gen}" if gen else f"epoch={epoch}"


def snapshot_epochs(stats: dict) -> dict[int, int]:
    """``{epoch: generation}`` the snapshot ``stats`` (stats.json)
    lists - the only epochs any reader serves.  stats.json records
    the epochs as ``epochs`` and the non-zero generations as
    ``epoch_gens``; a stats.json without ``epochs`` lists none."""
    gens = stats.get("epoch_gens") or {}
    return {int(e): int(gens.get(str(e), 0)) for e in stats.get("epochs") or ()}


# A block's epoch is the epoch=N dir (of any generation, .gG) DIRECTLY
# under the shard root (postings/ or termstats/), followed at most by
# a bucket dir and the file name.  Anchoring at the end keeps an
# ancestor of the index dir named epoch=N (or postings/epoch=N) from
# passing for a block epoch.
_EPOCH_PATH_RE = re.compile(
    r"/(?:postings|termstats)/epoch=(\d+)(?:\.g\d+)?(?:/bucket=\d+)?(?:/[^/]+)?$"
)


def path_epoch(path: str) -> int | None:
    """Epoch of a shard dir or block file path (None when the path
    names no epoch dir)."""
    m = _EPOCH_PATH_RE.search(path)
    return int(m.group(1)) if m else None
