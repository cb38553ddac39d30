"""Physical-plan regression tests: pin the scale-critical plan shapes
documented in PLANS.md so refactors can't silently reintroduce
double scans, lost broadcasts, or unpushed filters.

These parse `.explain("formatted")` output; operator detail lines look
like `(3) Scan parquet`, one per physical operator instance.
"""

import contextlib
import io
import re

import pytest


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _count(plan: str, op: str) -> int:
    return len(re.findall(rf"^\(\d+\) {re.escape(op)}", plan, re.M))


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plandocs") / "docs.parquet")
    spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
         for i in range(50)],
        "doc_id long, text string",
    ).write.parquet(p)
    return spark.read.parquet(p)


def test_duplicate_spans_single_scan(docs):
    """The groupBy+join-back formulation re-read the corpus twice
    (Catalyst does not dedupe common subtrees); the window
    formulation must keep it at ONE parquet scan."""
    from pg_cjk_parser_spark.ops.dedup import duplicate_spans

    plan = _plan(duplicate_spans(docs, k=4))
    assert _count(plan, "Scan parquet") == 1, plan
    assert _count(plan, "Window") == 1, plan
    # span hashing is the one Arrow pass, not an interpreted lambda
    assert "lambdafunction" not in plan, plan
    assert _count(plan, "MapInArrow") == 1, plan


def test_repetition_signals_single_scan(docs):
    """All n-gram sizes come from one Arrow pass - one corpus scan
    regardless of len(ns), and no interpreted per-element lambda.
    The pass is a per-row column behind the JVM length filter, so a
    count() of the result prunes it and only scans and filters."""
    from pg_cjk_parser_spark.ops.textstats import repetition_signals

    plan = _plan(repetition_signals(docs, ns=(2, 3)))
    assert _count(plan, "Scan parquet") == 1, plan
    assert "lambdafunction" not in plan, plan
    assert _count(plan, "ArrowEvalPython") == 1, plan
    assert _count(plan, "MapInArrow") == 0, plan
    counted = _plan(repetition_signals(docs, ns=(2, 3)).groupBy().count())
    assert _count(counted, "Scan parquet") == 1, counted
    assert _count(counted, "ArrowEvalPython") == 0, counted
    assert _count(counted, "Sort") == 0, counted


def test_contamination_overlap_broadcasts_probe(docs):
    """The probe n-gram set is tiny by definition; it must broadcast
    (the corpus side never shuffles on its own size)."""
    from pg_cjk_parser_spark.ops.textstats import contamination_overlap

    plan = _plan(
        contamination_overlap(docs, ["alpha beta gamma"], n=3)
    )
    assert _count(plan, "Scan parquet") == 1, plan
    assert _count(plan, "BroadcastExchange") >= 1, plan
    assert _count(plan, "BroadcastHashJoin") >= 1, plan


def test_hash_split_no_shuffle_before_sort(docs):
    """hash_split is a narrow projection - under a presentation
    orderBy, the only Exchange is that sort's range partitioning."""
    from pg_cjk_parser_spark.ops.textstats import hash_split

    assert _count(_plan(hash_split(docs)), "Exchange") == 0
    plan = _plan(hash_split(docs).orderBy("doc_id"))
    # every Exchange must be the rangepartitioning for the final sort
    keys = re.findall(
        r"^\(\d+\) Exchange\s*\n(?:.+\n)*?Arguments: (\w+)", plan, re.M
    )
    assert keys, plan  # the sort's Exchange, so the loop cannot go vacuous
    for key in keys:
        assert key == "rangepartitioning", plan
    assert _count(plan, "Scan parquet") == 1, plan


@pytest.fixture(scope="module")
def plan_index(spark, tmp_path_factory):
    from pg_cjk_parser_spark.index.build import build_index
    from pg_cjk_parser_spark.spark.corpus import synth_corpus

    idx = str(tmp_path_factory.mktemp("planidx"))
    build_index(
        spark, synth_corpus(spark, 80, seed=7, num_partitions=2), idx,
        num_buckets=8, num_salts=2, block_size=32,
    )
    return idx


def test_single_query_plans_have_no_scan_or_exchange(spark, plan_index):
    """search / search_rank / search_rank_cd launch one task per salt
    that reads its own blocks with pyarrow: no parquet scan and no
    exchange before the orderBy/limit merge, no per-query window, and
    no Project (a single query's rows carry no query column)."""
    from pg_cjk_parser_spark.query.topk import (
        search,
        search_rank,
        search_rank_cd,
    )

    for fn, q, mode in (
        (search, "のび太", "plain"),
        (search_rank, "doraemnon | nobita", "tsquery"),
        (search_rank_cd, "のび太", "tsquery"),
    ):
        plan = _plan(fn(spark, plan_index, q, k=5, mode=mode))
        for op in ("Exchange", "Scan parquet", "Window", "Project"):
            assert _count(plan, op) == 0, (op, plan)
        assert _count(plan, "MapInArrow") == 1, plan
        assert _count(plan, "TakeOrderedAndProject") == 1, plan


def _group_jobs(spark, group, call):
    """``(call(), jobs)``: what ``call()`` returns and the Spark jobs it
    launched under job group ``group`` (unique per call) as per-stage
    task counts."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    return out, [
        [st.getStageInfo(s).numTasks for s in st.getJobInfo(j).stageIds]
        for j in st.getJobIdsForGroup(group)
    ]


def _jobs(spark, group, make):
    """``(df, rows, jobs)``: the DataFrame ``make()`` returns, its
    collected rows, and the Spark jobs that both launched."""
    def run():
        df = make()
        return df, df.collect()

    (df, rows), jobs = _group_jobs(spark, group, run)
    return df, rows, jobs


def test_batch_runs_one_job_and_returns_local_rows(spark, plan_index):
    """search_many / search_many_rank run ONE Spark job when called,
    whose only stage has one task per salt, and merge each query's
    top-k on the driver: the returned plan is a local scan with no
    Exchange, Window or parquet scan, so collecting it launches no
    second job."""
    from pg_cjk_parser_spark.query.topk import (
        load_stats,
        search_many,
        search_many_rank,
    )

    calls = {
        "bm25": lambda: search_many(
            spark, plan_index, ["のび太", "Doraemnon"], k=5
        ),
        "rank": lambda: search_many_rank(
            spark, plan_index, ["doraemnon | nobita", "のび太"], k=5, cd=False
        ),
        "rank_cd": lambda: search_many_rank(
            spark, plan_index, ["のび太", "doraemnon & nobita"], k=5, cd=True
        ),
    }
    salts = load_stats(plan_index)["num_salts"]
    for name, call in calls.items():
        df, rows, jobs = _jobs(spark, f"plan-shapes-batch-{name}", call)
        assert rows, name
        assert jobs == [[salts]], (name, jobs)
        plan = _plan(df)
        for op in ("Exchange", "Window", "Scan parquet"):
            assert _count(plan, op) == 0, (op, plan)
        assert _count(plan, "LocalTableScan") == 1, plan


def test_search_runs_one_job_with_one_task_per_salt(spark, plan_index):
    """Collecting one search is ONE Spark job whose only stage has one
    task per salt."""
    from pg_cjk_parser_spark.query.topk import load_stats, search

    _, rows, jobs = _jobs(
        spark, "plan-shapes-search",
        lambda: search(spark, plan_index, "のび太", k=5),
    )
    assert rows
    assert jobs == [[load_stats(plan_index)["num_salts"]]], jobs


def test_unindexed_query_launches_no_job(spark, plan_index):
    """A query that routes to nothing returns an empty local frame of
    the entry point's columns: collecting it launches no Spark job."""
    from pg_cjk_parser_spark.query.topk import (
        search,
        search_many,
        search_rank_cd,
    )

    for name, call, cols in (
        ("search", lambda: search(spark, plan_index, "zzqxnomatch"),
         ["docid", "score"]),
        ("search_rank_cd", lambda: search_rank_cd(
            spark, plan_index, "zzqxnomatch"), ["docid", "rank"]),
        ("search_many", lambda: search_many(
            spark, plan_index, ["zzqxnomatch", "qqzzxnone"]),
         ["query", "rank", "docid", "score"]),
    ):
        df, rows, jobs = _jobs(spark, f"plan-shapes-empty-{name}", call)
        assert rows == [] and df.columns == cols, (name, df.columns)
        assert jobs == [], (name, jobs)


def test_salt_reader_returns_only_requested_terms_and_salt(plan_index):
    """The per-salt pyarrow read pushes both filters: it returns
    exactly the requested terms' blocks of one salt, and the salts'
    reads partition the unfiltered-by-salt read."""
    import pandas as pd

    from pg_cjk_parser_spark.query.topk import (
        _read_blocks_local,
        _shard_paths,
        load_stats,
        term_buckets,
    )

    stats = load_stats(plan_index)
    terms = ["のび", "び太"]
    bset = sorted(set(term_buckets(terms, stats["num_buckets"]).values()))
    paths = _shard_paths(plan_index, "postings", bset, stats)
    full = _read_blocks_local(paths, terms, False).to_pandas()
    assert set(full["term"]) == set(terms)
    parts = []
    for salt in range(stats["num_salts"]):
        for with_epoch in (False, True):
            got = _read_blocks_local(
                paths, terms, with_epoch, salt
            ).to_pandas()
            assert set(got["salt"]) == {salt}, (salt, with_epoch)
            assert set(got["term"]) <= set(terms)
        parts.append(got)
    key = ["salt", "term", "min_docid"]
    pd.testing.assert_frame_equal(
        pd.concat(parts).drop(columns="epoch").sort_values(key)
        .reset_index(drop=True),
        full.sort_values(key).reset_index(drop=True),
    )


def test_url_dedup_partial_max_by_one_exchange(spark, tmp_path_factory):
    """The numeric-id path must combine winners map-side (partial
    max_by BEFORE the single canonical-key Exchange) - a window/sort
    or a pruned-aggregate regression changes the scale story."""
    import pyspark.sql.functions as F

    from pg_cjk_parser_spark.ops.web import url_dedup

    p = str(tmp_path_factory.mktemp("urls") / "u.parquet")
    spark.createDataFrame(
        [(i, f"http://h{i % 5}.com/p", i) for i in range(40)],
        "doc_id long, url string, warc_ts long",
    ).write.parquet(p)
    d = spark.read.parquet(p)
    plan = _plan(
        url_dedup(d, ts_col="warc_ts").agg(
            F.count(F.lit(1)), F.max("warc_ts")
        )
    )
    assert "partial_max_by" in plan, plan
    assert _count(plan, "Window") == 0, plan
    # one exchange for the key, one single-partition exchange for the
    # final scalar agg
    assert _count(plan, "Exchange") <= 2, plan


def test_line_dedup_join_not_window_with_partial_counts(docs):
    """The banned-line set must be a map-side-combined aggregate
    joined back (AQE can skew-split/broadcast a join; a window over
    the line column would pin hot boilerplate into one partition)."""
    from pg_cjk_parser_spark.ops.web import line_dedup

    plan = _plan(line_dedup(docs))
    assert _count(plan, "Window") == 0, plan
    assert "partial_count" in plan, plan
    assert _count(plan, "Generate") == 2, plan  # count pass + tag pass


def test_link_graph_single_scan_single_exchange(spark, tmp_path_factory):
    """Extraction + rollup: one corpus scan, one domain-pair Exchange
    with map-side combine."""
    from pg_cjk_parser_spark.ops.graph import link_graph

    p = str(tmp_path_factory.mktemp("pages") / "p.parquet")
    spark.createDataFrame(
        [(f"https://s{i % 3}.com/p", '<a href="https://t.org/x">t</a>')
         for i in range(30)],
        "url string, html string",
    ).write.parquet(p)
    d = spark.read.parquet(p)
    plan = _plan(link_graph(d))
    assert _count(plan, "Scan parquet") == 1, plan
    assert _count(plan, "Exchange") == 1, plan
    assert "partial_count" in plan, plan


def test_build_index_cell_exchange_then_map_in_arrow(
    spark, docs, tmp_path, monkeypatch
):
    """The build is tokenizer MapInPandas -> ONE Exchange keyed by the
    collision-free bucket map -> ONE MapInArrow whose tasks encode and
    write the blocks and the termstats (no pandas round trip on the
    reduce side, no hash of the bucket, no sort, no second exchange),
    all in the writer's one plan."""
    from pg_cjk_parser_spark.index.build import build_index

    plans = []
    frame = type(docs)
    collect = frame.collect

    def spy(self):
        plans.append(_plan(self))
        return collect(self)

    monkeypatch.setattr(frame, "collect", spy)
    build_index(
        spark, docs, str(tmp_path / "idx"), docid_col="doc_id",
        num_buckets=8, num_salts=4,
    )
    (plan,) = [p for p in plans if "MapInPandas" in p]  # the writer's
    assert _count(plan, "MapInPandas") == 1, plan
    assert _count(plan, "Exchange") == 1, plan
    assert _count(plan, "MapInArrow") == 1, plan
    assert _count(plan, "Sort") == 0, plan

    def op_ids(op):
        return [
            int(m) for m in re.findall(rf"^\((\d+)\) {op}\s*$", plan, re.M)
        ]

    (tok,), (bucket_x,), (write,) = (
        op_ids(op) for op in ("MapInPandas", "Exchange", "MapInArrow")
    )
    assert tok < bucket_x < write, plan
    key = re.search(
        r"^\(\d+\) Exchange\s*\n(?:.+\n)*?Arguments: (.+)$", plan, re.M
    ).group(1)
    # partition bucket % parts through the literal map, salt not in it
    assert re.match(
        r"hashpartitioning\(element_at\(\[[\d,]+\], \(\(bucket#\d+ % \d+\) \+ 1\)",
        key,
    ), key
    assert "salt" not in key, key


def test_small_append_writes_flat_epoch_in_two_jobs(
    spark, docs, tmp_path, monkeypatch
):
    """A small parquet batch appends as a FLAT epoch in 2 Spark jobs -
    the tokenizer's map stage, then ONE writer task behind the one
    exchange - and its postings and termstats dirs each hold only
    ``part-00000.parquet`` (no Spark commit files), termstats ``df`` is
    int64 in both layouts, and the rows equal a forced-nested append of
    the same batch once the layout is dropped."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg_cjk_parser_spark.index import streaming
    from pg_cjk_parser_spark.index.codec import BLOCK_COLS
    from pg_cjk_parser_spark.index.compact import _read_epochs
    from pg_cjk_parser_spark.index.tombstones import epoch_dir_layout

    kw = dict(docid_col="doc_id", num_buckets=8, num_salts=2, block_size=16)

    def append(idx):
        return streaming.append_index_batch(spark, docs, idx, 1, **kw)

    flat_idx, nested_idx = str(tmp_path / "flat"), str(tmp_path / "nested")
    stats, jobs = _group_jobs(
        spark, "plan-shapes-small-append", lambda: append(flat_idx)
    )
    assert stats["n_docs"] == 50
    assert len(jobs) == 2, jobs
    # the writer's job lists the map stage it reuses (skipped)
    (map_job,), (write_job,) = ([j for j in jobs if len(j) == n] for n in (1, 2))
    assert write_job == map_job + [1], jobs
    monkeypatch.setattr(streaming, "_estimated_small", lambda batch: False)
    append(nested_idx)

    def rows(idx):
        pdir, tdir = streaming._epoch_dirs(idx, 1)
        layout = epoch_dir_layout(pdir)
        assert epoch_dir_layout(tdir) == layout
        blocks = sorted(
            tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
            for r in _read_epochs(spark, idx, {1: 0})
            .select(*BLOCK_COLS).collect()
        )
        terms = []
        for dp, _, names in os.walk(tdir):
            for n in names:
                t = pq.read_table(os.path.join(dp, n))
                assert t.schema.field("df").type == "int64", (layout, dp)
                if "bucket" not in t.column_names:  # a nested epoch's dir
                    bucket = int(os.path.basename(dp).removeprefix("bucket="))
                    t = t.add_column(0, "bucket", pa.array([bucket] * len(t)))
                terms += [tuple(r.values()) for r in t.to_pylist()]
        return layout, blocks, sorted(terms)

    layout, blocks, terms = rows(flat_idx)
    assert layout == "flat"
    for d in streaming._epoch_dirs(flat_idx, 1):
        assert os.listdir(d) == ["part-00000.parquet"], d
    nested = rows(nested_idx)
    assert nested[0] == "nested"
    assert blocks and terms
    assert (blocks, terms) == nested[1:]


def test_append_over_the_small_gate_lands_nested(
    spark, docs, tmp_path, monkeypatch
):
    """Only a batch whose Catalyst size estimate is under
    ``_SMALL_EPOCH_BYTES`` goes to the flat writer's one task: with the
    gate at the batch's own estimate the append lands nested, one byte
    above it flat."""
    from pg_cjk_parser_spark.index import streaming
    from pg_cjk_parser_spark.index.tombstones import epoch_dir_layout

    est = int(
        str(docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    assert 0 < est < streaming._SMALL_EPOCH_BYTES
    kw = dict(docid_col="doc_id", num_buckets=8, num_salts=2, block_size=16)
    for gate, layout in ((est, "nested"), (est + 1, "flat")):
        monkeypatch.setattr(streaming, "_SMALL_EPOCH_BYTES", gate)
        idx = str(tmp_path / layout)
        streaming.append_index_batch(spark, docs, idx, 1, **kw)
        for d in streaming._epoch_dirs(idx, 1):
            assert epoch_dir_layout(d) == layout, (gate, d)
