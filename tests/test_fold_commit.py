"""compact_index and merge_epochs are one fold that commits by one
atomic stats.json write: a crash at any file step leaves queries on
the old or the new snapshot, a re-run converges, validate_index reads
only listed shards, and a fold launches at most four Spark jobs."""

import os
import random
import shutil

import pytest
from pyspark.sql.readwriter import DataFrameWriter

import pg_cjk_parser_spark.index.streaming as streaming
from pg_cjk_parser_spark.index.build import build_index
from pg_cjk_parser_spark.index.compact import compact_index, merge_epochs
from pg_cjk_parser_spark.index.streaming import (
    append_index_batch,
    upsert_index_batch,
)
from pg_cjk_parser_spark.index.tombstones import (
    delete_docs,
    epoch_dir_layout,
    list_tombstone_files,
)
from pg_cjk_parser_spark.index.validate import validate_index
from pg_cjk_parser_spark.query.topk import load_stats, search, search_local

WORDS = "fast table spark merge value row batch key line big slow fresh".split()
QUERIES = ["fast & table", "spark | merge", "value | key", "batch <-> line"]
KW = dict(docid_col="doc_id", num_buckets=4, num_salts=2, block_size=4)
FOLDS = {
    "compact": lambda spark, d: compact_index(spark, d),
    "merge": lambda spark, d: merge_epochs(spark, d, [1, 2]),
}
# generation counters: a compaction re-run after a crash that came
# after the commit compacts the compacted index once more
BOOKKEEPING = ("compact_gen", "epoch_gens", "applied_tombstones")


def _docs(spark, ids, seed):
    rng = random.Random(seed)
    return spark.createDataFrame(
        [
            (i, " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 9))))
            for i in ids
        ],
        "doc_id long, text string",
    )


@pytest.fixture(scope="module")
def tombstoned(spark, tmp_path_factory):
    """A built epoch 0 and a large append as epoch 1 (nested), a small
    append as epoch 2 and a small upsert as epoch 3 (flat), with
    default, epoch-bounded and upsert tombstones."""
    d = str(tmp_path_factory.mktemp("fold") / "idx")
    build_index(spark, _docs(spark, range(0, 60), 1), d, **KW)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(streaming, "_estimated_small", lambda batch: False)
        append_index_batch(spark, _docs(spark, range(60, 100), 2), d, 1, **KW)
        mp.setattr(streaming, "_estimated_small", lambda batch: True)
        append_index_batch(spark, _docs(spark, range(100, 120), 3), d, 2, **KW)
        delete_docs(d, [3, 17, 64, 71, 105])
        delete_docs(d, [8, 110], upto_epoch=1)  # spares epoch-2 doc 110
        upsert_index_batch(
            spark, _docs(spark, [5, 62, *range(120, 135)], 4), d, 3, **KW
        )
    layouts = [
        epoch_dir_layout(os.path.join(d, "postings", f"epoch={e}"))
        for e in range(4)
    ]
    assert layouts == ["nested", "nested", "flat", "flat"]
    assert len(list_tombstone_files(d)) == 3
    return d


def _copy(tpl, tmp_path, name):
    d = str(tmp_path / name)
    shutil.copytree(tpl, d)
    return d


def _view(spark, d):
    """What the query paths serve: the corpus size and every query's
    answer on the serving tier and on the Spark runner."""
    return (
        load_stats(d)["n_docs"],
        [search_local(d, q, k=50, mode="tsquery") for q in QUERIES],
        [
            (r.docid, r.score)
            for r in search(spark, d, QUERIES[1], k=50, mode="tsquery").collect()
        ],
    )


class Killed(Exception):
    """A crash injected at one file step of a fold."""


def _file_steps(mp, index_dir, kill_at=None):
    """Log the file steps under ``index_dir`` - each parquet data
    write, each rename (the manifest and stats.json writes are atomic
    renames) and each removal - and raise :class:`Killed` at step
    ``kill_at`` (1-based) instead of taking it."""
    log = []

    def step(name, real, path_arg):
        def wrapped(*args, **kwargs):
            path = str(args[path_arg])
            if path.startswith(index_dir):
                log.append((name, os.path.relpath(path, index_dir)))
                if len(log) == kill_at:
                    raise Killed(log[-1])
            return real(*args, **kwargs)

        return wrapped

    mp.setattr(DataFrameWriter, "parquet", step("write", DataFrameWriter.parquet, 1))
    for mod, name in (
        (os, "replace"), (os, "rename"), (os, "remove"), (shutil, "rmtree")
    ):
        mp.setattr(mod, name, step(name, getattr(mod, name), 0))
    return log


@pytest.mark.parametrize("fold", ["compact", "merge"])
def test_crash_at_every_fold_step_serves_old_or_new(
    spark, tombstoned, tmp_path, fold
):
    """A crash at each file step of compact_index / merge_epochs - each
    data write, the manifest and snapshot writes, each sweep removal -
    leaves every query path on exactly the pre-fold or the post-fold
    snapshot, and re-running the fold converges to the uninterrupted
    fold's stats, n_docs included."""
    run = FOLDS[fold]
    pre = _view(spark, tombstoned)
    ref = _copy(tombstoned, tmp_path, "ref")
    with pytest.MonkeyPatch.context() as mp:
        steps = _file_steps(mp, ref)
        want = run(spark, ref)
    post = _view(spark, ref)
    assert post != pre and post[0] == want["n_docs"]
    kinds = {name for name, _ in steps}
    assert {"write", "replace", "rmtree", "remove"} <= kinds, steps

    crashed = []
    for k, step in enumerate(steps, 1):
        d = _copy(tombstoned, tmp_path, f"kill{k}")
        with pytest.MonkeyPatch.context() as mp:
            _file_steps(mp, d, kill_at=k)
            with pytest.raises(Killed):
                run(spark, d)
        got = _view(spark, d)
        assert got in (pre, post), (k, step)
        again = run(spark, d)
        assert _view(spark, d) == post, (k, step)
        if got == pre or fold == "merge":
            assert again == want, (k, step)
        else:
            assert {
                key: v for key, v in again.items() if key not in BOOKKEEPING
            } == {
                key: v for key, v in want.items() if key not in BOOKKEEPING
            }, (k, step)
        crashed.append(d)
    for d in [ref, *crashed]:
        rep = validate_index(d, deep=True)
        assert rep["ok"], (d, rep["errors"])
        assert rep["checks"]["unlisted_dirs"] == [], d


def test_validate_reads_only_listed_shards(spark, tombstoned, tmp_path):
    """validate_index sums and samples only the shards the snapshot
    lists, as queries read them, and names the epoch dirs no snapshot
    lists without failing; a fold sweeps those up to the newest listed
    epoch and leaves a newer one, which may be an append that has not
    committed yet."""
    d = _copy(tombstoned, tmp_path, "orphans")
    before = _view(spark, d)
    for sub in ("postings", "termstats"):
        for orphan in ("epoch=1.g7", "epoch=9"):
            shutil.copytree(
                os.path.join(d, sub, "epoch=1"), os.path.join(d, sub, orphan)
            )
    rep = validate_index(d, deep=True)
    assert rep["ok"], rep["errors"]
    assert rep["checks"]["unlisted_dirs"] == [
        "postings/epoch=1.g7", "postings/epoch=9",
        "termstats/epoch=1.g7", "termstats/epoch=9",
    ]
    assert rep["checks"]["blocks_sampled"] > 0
    assert _view(spark, d) == before
    merge_epochs(spark, d, [1, 2])
    rep = validate_index(d, deep=True)
    assert rep["ok"], rep["errors"]
    assert rep["checks"]["unlisted_dirs"] == [
        "postings/epoch=9", "termstats/epoch=9",
    ]


@pytest.mark.parametrize("fold", ["compact", "merge"])
def test_fold_launches_at_most_four_jobs(spark, tombstoned, tmp_path, fold):
    """On a tombstoned index with nested and flat epochs a fold runs
    no schema-inference read and no second decode pass for its
    removal counts: the rewrite and its termstats, at most 4 jobs."""
    d = _copy(tombstoned, tmp_path, fold)
    sc = spark.sparkContext
    group = f"fold-{fold}"
    sc.setJobGroup(group, f"{fold} of a tombstoned index", False)
    try:
        FOLDS[fold](spark, d)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < len(jobs) <= 4, jobs
