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


def test_repetition_signals_single_scan(docs):
    """All n-gram sizes must explode in one tagged pass - one corpus
    scan regardless of len(ns)."""
    from pg_cjk_parser_spark.ops.textstats import repetition_signals

    plan = _plan(repetition_signals(docs, ns=(2, 3)))
    assert _count(plan, "Scan parquet") == 1, plan


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


def test_search_pushes_term_filter(spark, tmp_path_factory):
    """The postings scan must push the term IN-list into parquet
    row-group pruning and read only routed bucket dirs."""
    from pg_cjk_parser_spark.index.build import build_index
    from pg_cjk_parser_spark.query.topk import search, search_many
    from pg_cjk_parser_spark.spark.corpus import synth_corpus

    idx = str(tmp_path_factory.mktemp("planidx"))
    build_index(
        spark, synth_corpus(spark, 80, seed=7, num_partitions=2), idx,
        num_buckets=8, num_salts=2, block_size=32,
    )
    plan = _plan(search(spark, idx, "のび太", k=5))
    assert "PushedFilters: [In(term" in plan, plan
    # a single query merges with orderBy/limit, never a per-query
    # window, and its rows carry no query column for a Project to drop
    assert _count(plan, "Window") == 0, plan
    assert _count(plan, "Project") == 0, plan
    plan_b = _plan(search_many(spark, idx, ["のび太", "Doraemnon"], k=5))
    assert "PushedFilters: [In(term" in plan_b, plan_b
    assert _count(plan_b, "Scan parquet") == 1, plan_b


def test_rank_paths_push_term_filter_single_scan(spark, tmp_path_factory):
    """search_rank / search_rank_cd / search_many_rank must inherit the
    BM25 scan shape: one parquet scan of routed bucket dirs with the
    term IN-list pushed down.  Single queries add one hash Exchange on
    salt and no extra shuffles or windows."""
    from pg_cjk_parser_spark.index.build import build_index
    from pg_cjk_parser_spark.query.topk import (
        search_many_rank,
        search_rank,
        search_rank_cd,
    )
    from pg_cjk_parser_spark.spark.corpus import synth_corpus

    idx = str(tmp_path_factory.mktemp("rankidx"))
    build_index(
        spark, synth_corpus(spark, 80, seed=7, num_partitions=2), idx,
        num_buckets=8, num_salts=2, block_size=32,
    )
    for fn, q in (
        (search_rank, "doraemnon | nobita"),
        (search_rank_cd, "のび太"),
    ):
        plan = _plan(fn(spark, idx, q, k=5, mode="tsquery"))
        assert "PushedFilters: [In(term" in plan, plan
        assert _count(plan, "Scan parquet") == 1, plan
        assert _count(plan, "Exchange") <= 2, plan  # salt hash + final sort
        assert _count(plan, "Window") == 0, plan
        assert _count(plan, "Project") == 0, plan
    for cd, qs in (
        (False, ["doraemnon | nobita", "のび太"]),
        (True, ["のび太", "doraemnon & nobita"]),
    ):
        plan = _plan(
            search_many_rank(spark, idx, qs, k=5, mode="tsquery", cd=cd)
        )
        assert "PushedFilters: [In(term" in plan, plan
        assert _count(plan, "Scan parquet") == 1, plan


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


@pytest.mark.parametrize("resume", [False, True])
def test_build_index_cell_exchange_then_map_in_arrow(
    spark, docs, tmp_path, monkeypatch, resume
):
    """The build is tokenizer MapInPandas -> ONE Exchange keyed by the
    collision-free cell map -> MapInArrow block encode (no pandas round
    trip on the reduce side, no hash of (bucket, salt), no sort), with
    or without resume."""
    from pyspark.sql.readwriter import DataFrameWriter

    from pg_cjk_parser_spark.index.build import build_index

    plans = []
    write = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        plans.append(_plan(self._df))
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    build_index(
        spark, docs, str(tmp_path / "idx"), docid_col="doc_id",
        num_buckets=8, num_salts=4, resume=resume,
        fingerprint="plan-shape" if resume else None,
    )
    plan = plans[0]  # the postings write
    for op in ("MapInPandas", "Exchange", "MapInArrow"):
        assert _count(plan, op) == 1, plan
    assert _count(plan, "Sort") == 0, plan

    def op_id(op):
        return int(re.search(rf"^\((\d+)\) {op}\s*$", plan, re.M).group(1))

    assert op_id("MapInPandas") < op_id("Exchange") < op_id("MapInArrow"), plan
    key = re.search(
        r"^\(\d+\) Exchange\s*\n(?:.+\n)*?Arguments: (.+)$", plan, re.M
    ).group(1)
    assert key.startswith("hashpartitioning(element_at("), key
    assert not re.match(r"hashpartitioning\(bucket#\d+, salt#\d+", key), key
