"""compact_index and merge_epochs are one fold that commits by one
atomic stats.json write: a crash at any file step leaves queries on
the old or the new snapshot, a re-run converges, validate_index reads
only listed shards, and a fold launches at most two Spark jobs, as
many as the batch build."""

import os
import random
import shutil

import pytest

import pg_cjk_parser_spark.index.compact as compact
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
    """Log the file steps under ``index_dir`` - the epoch writer's data
    jobs (``streaming._write_epoch``, whose tasks write the parquet
    files), each rename (the manifest and stats.json writes are atomic
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

    mp.setattr(compact, "_write_epoch", step("write", compact._write_epoch, 2))
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
def test_partial_generation_leftovers_are_invisible(
    spark, tombstoned, tmp_path, fold
):
    """A crashed writer's leftovers in the generation dir a fold is
    about to write - a partial part file and a dot-prefixed temp file
    - change no query, and the fold replaces them: it converges to the
    uninterrupted fold, and validate_index finds no unlisted dir."""
    run = FOLDS[fold]
    pre = _view(spark, tombstoned)
    ref = _copy(tombstoned, tmp_path, "ref")
    want = run(spark, ref)
    post = _view(spark, ref)
    d = _copy(tombstoned, tmp_path, "leftovers")
    (gen_dir,) = [f"epoch={e}.g{g}" for e, g in want["epoch_gens"].items()]
    src = os.path.join(ref, "postings", gen_dir, "bucket=0")
    dst = os.path.join(d, "postings", gen_dir, "bucket=0")
    os.makedirs(dst)
    part = sorted(n for n in os.listdir(src) if n.endswith(".parquet"))[0]
    with open(os.path.join(src, part), "rb") as f:
        data = f.read()
    with open(os.path.join(dst, part), "wb") as f:
        f.write(data[: len(data) // 2])
    with open(os.path.join(dst, f".{part}.0123.tmp"), "wb") as f:
        f.write(data)
    assert _view(spark, d) == pre
    assert run(spark, d) == want
    assert _view(spark, d) == post
    rep = validate_index(d, deep=True)
    assert rep["ok"], rep["errors"]
    assert rep["checks"]["unlisted_dirs"] == []
    assert not any(
        n.startswith(".")
        for sub in ("postings", "termstats")
        for _, _, names in os.walk(os.path.join(d, sub, gen_dir))
        for n in names
    )


def _jobs(spark, group, fn):
    """Spark jobs ``fn()`` launches, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("fold", ["compact", "merge"])
def test_fold_launches_at_most_two_jobs(spark, tombstoned, tmp_path, fold):
    """On a tombstoned index with nested and flat epochs a fold runs
    no schema-inference read and no second decode pass for its
    removal counts: the decode, then the bucket-keyed tasks that write
    the blocks and the termstats, at most 2 jobs."""
    d = _copy(tombstoned, tmp_path, fold)
    jobs = _jobs(spark, f"fold-{fold}", lambda: FOLDS[fold](spark, d))
    assert 0 < len(jobs) <= 2, jobs


@pytest.fixture
def multi_file_docs(spark, tmp_path):
    """A 200-doc corpus read from several parquet files."""
    src = str(tmp_path / "docs")
    _docs(spark, range(200), 7).repartition(4).write.parquet(src)
    docs = spark.read.parquet(src)
    assert len(docs.inputFiles()) > 1
    return docs


def test_build_launches_two_jobs(spark, multi_file_docs, tmp_path):
    """build_index of a multi-file corpus with a known doc count:
    tokenize and pack, then the bucket-keyed tasks that encode and
    write the blocks and the termstats - 2 jobs (the Spark-writer
    build took 4, a separate termstats stage 3).  A ``num_partitions``
    above the bucket count still runs one writer task per bucket."""
    d = str(tmp_path / "idx")
    jobs = _jobs(
        spark, "build-jobs",
        lambda: build_index(
            spark, multi_file_docs, d, n_docs=200, num_partitions=64, **KW
        ),
    )
    assert len(jobs) == 2, jobs
    st = spark.sparkContext.statusTracker()
    writer = max(st.getJobInfo(max(jobs)).stageIds)
    assert st.getStageInfo(writer).numTasks == KW["num_buckets"]
    assert load_stats(d)["n_docs"] == 200


def test_nested_append_launches_two_jobs(spark, multi_file_docs, tmp_path):
    """An append over the small-epoch gate writes a nested epoch in the
    same 2 jobs as the build: tokenize and pack, then the bucket-keyed
    writer tasks."""
    d = str(tmp_path / "idx")
    build_index(spark, _docs(spark, range(200, 260), 8), d, **KW)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(streaming, "_estimated_small", lambda batch: False)
        jobs = _jobs(
            spark, "nested-append-jobs",
            lambda: append_index_batch(spark, multi_file_docs, d, 1, **KW),
        )
    assert len(jobs) == 2, jobs
    assert epoch_dir_layout(os.path.join(d, "postings", "epoch=1")) == "nested"
    assert load_stats(d)["n_docs"] == 260
