"""Index integrity validation (operational tooling).

``validate_index`` cross-checks the three sources of truth an index
carries - the snapshot (stats.json), the epoch manifests it lists
(the batch build is epoch 0), and the written shards - reading only
what queries read, the shards of the listed epoch generations:

* every listed epoch's manifest is complete;
* stats totals equal the sum of the listed manifests' totals;
* the listed termstats' totals (a column-pruned read) equal stats
  totals;
* optionally (``deep=True``) decodes a sample of the listed posting
  blocks with the library's one block decoder
  (``codec.decode_blocks``, which checks every blob's value count and
  each posting's npos) and checks each block's min/max docid and
  docid monotonicity.

``checks["unlisted_dirs"]`` names the epoch dirs no snapshot lists -
leftovers of a crashed fold or append, which no reader serves and the
next fold sweeps - without failing.

Returns a report dict with ``ok`` plus per-check details; raises
nothing (an unreadable index yields ``ok=False`` with the error).
"""

from __future__ import annotations

import json
import os

import numpy as np


def validate_index(index_dir: str, deep: bool = False, sample_blocks: int = 50) -> dict:
    from .tombstones import epoch_dir_layout, epoch_name, snapshot_epochs

    report: dict = {"ok": True, "errors": [], "checks": {}}

    def fail(msg: str) -> None:
        report["ok"] = False
        report["errors"].append(msg)

    try:
        with open(os.path.join(index_dir, "stats.json")) as f:
            stats = json.load(f)
    except Exception as ex:
        fail(f"stats.json unreadable: {ex}")
        return report
    report["checks"]["stats"] = {
        k: stats.get(k) for k in ("n_docs", "n_postings", "total_tf")
    }
    listing = snapshot_epochs(stats)
    listed = {epoch_name(e, g) for e, g in listing.items()}

    # --- manifests of the listed epochs -----------------------------------
    epoch_ms = []
    for name in sorted(f"{n}.json" for n in listed):
        try:
            with open(os.path.join(index_dir, "manifests", name)) as f:
                epoch_ms.append(json.load(f))
        except Exception as ex:
            fail(f"manifest {name} unreadable: {ex}")
    if epoch_ms:
        bad = [m for m in epoch_ms if m.get("status") != "complete"]
        if bad:
            fail(f"incomplete epoch manifests: {[m.get('epoch') for m in bad]}")
        for key in ("n_docs", "total_tf", "n_postings"):
            s = sum(int(m.get(key, 0)) for m in epoch_ms)
            if int(stats.get(key, -1)) != s:
                fail(f"stats.{key}={stats.get(key)} != sum(epochs)={s}")
        report["checks"]["epochs"] = len(epoch_ms)
    elif not listing:
        fail("stats.json lists no epochs")
    report["checks"]["unlisted_dirs"] = sorted(
        f"{sub}/{n}"
        for sub in ("postings", "termstats")
        if os.path.isdir(os.path.join(index_dir, sub))
        for n in os.listdir(os.path.join(index_dir, sub))
        if n.startswith("epoch=") and n not in listed
    )

    # the listed epoch dirs holding data: exactly what queries read
    shards = {
        sub: [
            p
            for p in (
                os.path.join(index_dir, sub, epoch_name(e, g))
                for e, g in sorted(listing.items())
            )
            if epoch_dir_layout(p)
        ]
        for sub in ("postings", "termstats")
    }

    # --- termstats vs stats (column-pruned pyarrow read) ------------------
    import pyarrow as pa
    import pyarrow.dataset as ds

    try:
        import pyarrow.compute as pc

        rows = n_postings = total_tf = 0
        for p in shards["termstats"]:
            tbl = ds.dataset(p).to_table(columns=["df", "cf"])
            rows += tbl.num_rows
            n_postings += int(pc.sum(tbl["df"]).as_py() or 0)
            total_tf += int(pc.sum(tbl["cf"]).as_py() or 0)
        if n_postings != int(stats.get("n_postings", -1)):
            fail(f"termstats df sum {n_postings} != stats {stats.get('n_postings')}")
        if total_tf != int(stats.get("total_tf", -1)):
            fail(f"termstats cf sum {total_tf} != stats {stats.get('total_tf')}")
        report["checks"]["termstats_rows"] = rows
    except Exception as ex:
        fail(f"termstats unreadable: {ex}")

    # --- deep: sample posting blocks --------------------------------------
    if deep:
        try:
            from .codec import BLOCK_COLS, decode_blocks

            cols = [*BLOCK_COLS, "min_docid", "max_docid"]
            tbl = pa.concat_tables(
                [
                    ds.dataset(p, partitioning="hive").head(
                        sample_blocks, columns=cols
                    )
                    for p in shards["postings"]
                ]
            ).slice(0, sample_blocks)
            # a combined table is at most one batch: ONE decoder call
            for rb in tbl.combine_chunks().to_batches():
                blk, ids, *_ = decode_blocks(rb)
                ns = rb.column("n").to_numpy().astype(np.int64)
                full = np.flatnonzero(ns)  # blocks holding postings
                first = (np.cumsum(ns) - ns)[full]
                lo, hi = (
                    rb.column(c).to_numpy()[full]
                    for c in ("min_docid", "max_docid")
                )
                bad = (ids[first] != lo) | (ids[first + ns[full] - 1] != hi)
                for i in full[bad].tolist():
                    fail(f"block {i}: min/max docid mismatch")
                down = (blk[1:] == blk[:-1]) & (ids[1:] <= ids[:-1])
                for i in np.unique(blk[1:][down]).tolist():
                    fail(f"block {i}: docids not strictly increasing")
            report["checks"]["blocks_sampled"] = tbl.num_rows
        except Exception as ex:
            fail(f"deep block check failed: {ex}")

    return report
