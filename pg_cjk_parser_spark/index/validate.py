"""Index integrity validation (operational tooling).

``validate_index`` cross-checks the three sources of truth an index
carries - stats.json, the epoch manifests (the batch build is epoch
0), and the written shards - without decoding postings:

* every epoch manifest is complete, and stats.json lists exactly the
  manifests' epochs;
* stats totals equal the sum of the epoch manifests' totals;
* termstats totals (a column-pruned read) equal stats totals;
* optionally (``deep=True``) decodes a sample of posting blocks with
  the library's one block decoder (``codec.decode_blocks``, which
  checks every blob's value count and each posting's npos) and
  checks each block's min/max docid and docid monotonicity.

Returns a report dict with ``ok`` plus per-check details; raises
nothing (an unreadable index yields ``ok=False`` with the error).
"""

from __future__ import annotations

import json
import os

import numpy as np


def validate_index(index_dir: str, deep: bool = False, sample_blocks: int = 50) -> dict:
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

    # --- manifests -------------------------------------------------------
    mdir = os.path.join(index_dir, "manifests")
    epoch_ms = []
    if os.path.isdir(mdir):
        for name in sorted(os.listdir(mdir)):
            if not (name.startswith("epoch=") and name.endswith(".json")):
                continue
            try:
                with open(os.path.join(mdir, name)) as f:
                    epoch_ms.append(json.load(f))
            except Exception as ex:
                fail(f"manifest {name} unreadable: {ex}")
    else:
        fail("manifests dir missing")

    if epoch_ms:
        bad = [m for m in epoch_ms if m.get("status") != "complete"]
        if bad:
            fail(f"incomplete epoch manifests: {[m.get('epoch') for m in bad]}")
        have = sorted(int(m["epoch"]) for m in epoch_ms)
        if sorted(stats.get("epochs", [])) != have:
            fail(f"stats.epochs {stats.get('epochs')} != manifests {have}")
        for key in ("n_docs", "total_tf", "n_postings"):
            s = sum(int(m.get(key, 0)) for m in epoch_ms)
            if int(stats.get(key, -1)) != s:
                fail(f"stats.{key}={stats.get(key)} != sum(epochs)={s}")
        report["checks"]["epochs"] = len(epoch_ms)
    else:
        fail("no manifests found")

    # --- termstats vs stats (column-pruned pyarrow read) ------------------
    ts_dir = os.path.join(index_dir, "termstats")
    try:
        import pyarrow.dataset as ds

        tbl = ds.dataset(ts_dir, partitioning="hive").to_table(
            columns=["df", "cf"]
        )
        import pyarrow.compute as pc

        n_postings = int(pc.sum(tbl["df"]).as_py() or 0)
        total_tf = int(pc.sum(tbl["cf"]).as_py() or 0)
        if n_postings != int(stats.get("n_postings", -1)):
            fail(f"termstats df sum {n_postings} != stats {stats.get('n_postings')}")
        if total_tf != int(stats.get("total_tf", -1)):
            fail(f"termstats cf sum {total_tf} != stats {stats.get('total_tf')}")
        report["checks"]["termstats_rows"] = tbl.num_rows
    except Exception as ex:
        fail(f"termstats unreadable: {ex}")

    # --- deep: sample posting blocks --------------------------------------
    if deep:
        try:
            import pyarrow.dataset as ds

            from .codec import BLOCK_COLS, decode_blocks

            tbl = ds.dataset(
                os.path.join(index_dir, "postings"), partitioning="hive"
            ).head(
                sample_blocks, columns=[*BLOCK_COLS, "min_docid", "max_docid"]
            )
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
