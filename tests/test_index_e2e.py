"""End-to-end: synth corpus -> index build -> BM25 top-k == brute-force
oracle (rank- and score-identical), plus crash recovery and resume."""

import json
import os

import pytest

from pg_cjk_parser_spark.index.build import build_index
from pg_cjk_parser_spark.query.oracle import brute_force_topk
from pg_cjk_parser_spark.query.topk import search
from pg_cjk_parser_spark.spark.corpus import synth_corpus

N_DOCS = 400
QUERIES = [
    "のび太",
    "野比大雄",
    "「大韩民国개인정보",
    "Doraemnon",
    "doraemon.com",
    "Nobita 牧場物語",
    "inverted indexes",
    "개인정보 보호법",
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("index"))
    docs = synth_corpus(spark, N_DOCS, seed=42, num_partitions=4)
    stats = build_index(
        spark, docs, index_dir, num_buckets=16, num_salts=2, block_size=32
    )
    pdocs = [
        (r.docid, r.text)
        for r in docs.selectExpr("xxhash64(url) as docid", "text").collect()
    ]
    return index_dir, stats, pdocs


def test_stats_sane(built):
    _, stats, pdocs = built
    assert stats["n_docs"] == N_DOCS
    assert stats["avgdl"] > 5
    assert stats["n_postings"] > 1000


def test_rank_identical_vs_oracle(spark, built):
    index_dir, _, pdocs = built
    for q in QUERIES:
        got = [
            (r.docid, round(r.score, 6))
            for r in search(spark, index_dir, q, k=10).collect()
        ]
        want = brute_force_topk(pdocs, q, k=10)
        assert got == want, (q, got[:3], want[:3])
        assert got, f"query {q!r} matched nothing"


def test_empty_and_stopword_queries(spark, built):
    index_dir, _, _ = built
    assert search(spark, index_dir, "zzzznotaword9", k=5).count() == 0
    assert search(spark, index_dir, "the", k=5).count() == 0  # pure stopword
    assert search(spark, index_dir, "", k=5).count() == 0


def test_build_crash_before_manifest_then_resume(
    spark, built, tmp_path, monkeypatch
):
    """A rebuild that dies after its data write but before epoch 0's
    manifest serves nothing (no half-written epoch under the previous
    stats); resume converges to the uninterrupted build, and resuming
    the complete index launches no Spark job."""
    from pg_cjk_parser_spark.index import build as build_mod
    from pg_cjk_parser_spark.index.validate import validate_index
    from pg_cjk_parser_spark.query.topk import search_local

    _, stats, pdocs = built
    d = str(tmp_path / "crashed")
    kw = dict(
        num_buckets=16, num_salts=2, block_size=32,
        fingerprint=stats["fingerprint"],
    )
    build_index(spark, synth_corpus(spark, 60, seed=7, num_partitions=2), d, **kw)
    docs = synth_corpus(spark, N_DOCS, seed=42, num_partitions=4)
    real = build_mod._atomic_json

    def killed(path, obj):
        if path.endswith("epoch=0.json"):
            raise OSError("killed before the manifest")
        real(path, obj)

    monkeypatch.setattr(build_mod, "_atomic_json", killed)
    with pytest.raises(OSError, match="killed"):
        build_index(spark, docs, d, **kw)
    monkeypatch.undo()
    assert os.listdir(os.path.join(d, "postings", "epoch=0"))
    with pytest.raises(FileNotFoundError):
        search_local(d, QUERIES[0])
    assert not validate_index(d)["ok"]

    got = build_index(spark, docs, d, resume=True, **kw)
    timeless = lambda st: {k: v for k, v in st.items() if k != "build_seconds"}
    assert timeless(got) == timeless(stats)
    for q in QUERIES[:4]:
        res = [(r.docid, round(r.score, 6)) for r in search(spark, d, q, k=10).collect()]
        assert res == brute_force_topk(pdocs, q, k=10), q

    sc = spark.sparkContext
    sc.setJobGroup("resume-complete", "resume of a complete index", False)
    try:
        again = build_index(spark, docs, d, resume=True, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert again == got
    assert list(sc.statusTracker().getJobIdsForGroup("resume-complete")) == []


def test_clean_rebuild_drops_tombstones(spark, tmp_path):
    """A clean rebuild starts from nothing: tombstones written against
    the previous index must not mask the rebuilt docs."""
    from pg_cjk_parser_spark.index.tombstones import delete_docs
    from pg_cjk_parser_spark.query.topk import search_local

    d = str(tmp_path / "tomb_rebuild")
    docs = spark.createDataFrame(
        [(1, "fast table spark"), (2, "fast value merge"), (3, "slow table")],
        "doc_id long, text string",
    )
    kw = dict(docid_col="doc_id", num_buckets=4, num_salts=2)
    build_index(spark, docs, d, **kw)
    assert [i for i, _ in search_local(d, "fast")] == [1, 2]
    delete_docs(d, [2])
    assert [i for i, _ in search_local(d, "fast")] == [1]
    build_index(spark, docs, d, resume=False, **kw)
    assert [i for i, _ in search_local(d, "fast")] == [1, 2]
    assert not os.path.exists(os.path.join(d, "tombstones"))


@pytest.mark.parametrize("fold", ["compact", "merge"])
def test_resume_after_fold_keeps_appended_epochs(spark, tmp_path, fold):
    """compact_index and merge_epochs fold epoch 0 into another epoch;
    the folded manifest carries the build's fingerprint on, so a
    resume keeps the appended docs and launches no Spark job instead
    of rebuilding over them."""
    from pg_cjk_parser_spark.index.compact import compact_index, merge_epochs
    from pg_cjk_parser_spark.index.streaming import append_index_batch
    from pg_cjk_parser_spark.query.topk import search_local

    d = str(tmp_path / fold)
    base = spark.createDataFrame(
        [(1, "fast table spark"), (2, "slow table")], "doc_id long, text string"
    )
    kw = dict(docid_col="doc_id", num_buckets=4, num_salts=2)
    build_index(spark, base, d, fingerprint="fp-fold", **kw)
    append_index_batch(
        spark,
        spark.createDataFrame([(3, "fast value")], "doc_id long, text string"),
        d, 1, **kw,
    )
    if fold == "compact":
        folded = compact_index(spark, d)
    else:
        folded = merge_epochs(spark, d, [0, 1])
    assert folded["epochs"] == [1]
    assert sorted(i for i, _ in search_local(d, "fast")) == [1, 3]

    sc = spark.sparkContext
    sc.setJobGroup("resume-folded", "resume of a folded index", False)
    try:
        got = build_index(spark, base, d, resume=True, fingerprint="fp-fold", **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("resume-folded")) == []
    assert got["n_docs"] == 3 and got["epochs"] == [1]
    assert sorted(i for i, _ in search_local(d, "fast")) == [1, 3]


def test_older_layout_fails_loudly(spark, tmp_path):
    """An index whose postings sit in top-level bucket= dirs (the
    layout before every shard moved under an epoch= dir) must raise on
    query rather than answer from none of its postings."""
    from pg_cjk_parser_spark.query.topk import search_local

    d = str(tmp_path / "older")
    docs = spark.createDataFrame(
        [(1, "fast table"), (2, "fast value")], "doc_id long, text string"
    )
    build_index(spark, docs, d, docid_col="doc_id", num_buckets=4, num_salts=2)
    assert [i for i, _ in search_local(d, "fast")] == [1, 2]
    pdir = os.path.join(d, "postings")
    for name in os.listdir(os.path.join(pdir, "epoch=0")):
        if name.startswith("bucket="):
            os.replace(os.path.join(pdir, "epoch=0", name), os.path.join(pdir, name))
    # with the stats.json that layout's build wrote, which listed no
    # epochs (readers cache per stats.json, which every writer rewrites)
    sp = os.path.join(d, "stats.json")
    with open(sp) as f:
        stats = json.load(f)
    with open(sp, "w") as f:
        json.dump({k: v for k, v in stats.items() if k != "epochs"}, f)
    with pytest.raises(ValueError, match="older layout"):
        search_local(d, "fast")
    with pytest.raises(ValueError, match="older layout"):
        search(spark, d, "fast", k=5)


BOOL_QUERIES = [
    "'doraemnon' | '野比大雄'",
    "'spark' | 'のび太'",
    "'doraemnon' & !'梦'",
    "( 'のび太' | '개인정보' ) & !'nobita'",
    "'牧場' <-> '場物' | 'fox'",
    "'doraemnon' & ( 'fox' | '梦' )",
    "'の牧' | '수집' | 'doraemnon'",
    "'fox' | 'nobita' | '개인' | '梦'",
]


def test_boolean_queries_vs_oracle(spark, built):
    index_dir, _, pdocs = built
    for q in BOOL_QUERIES:
        got = [
            (r.docid, round(r.score, 6))
            for r in search(spark, index_dir, q, k=10, mode="tsquery").collect()
        ]
        want = brute_force_topk(pdocs, q, k=10, mode="tsquery")
        assert got == want, (q, got[:3], want[:3])


def test_pure_negation_rejected(spark, built):
    import pytest

    index_dir, _, _ = built
    with pytest.raises(ValueError):
        search(spark, index_dir, "!'doraemnon'", k=5, mode="tsquery")


def test_complement_reduction_rejected_at_parse():
    """Queries with positive terms can still reduce to a complement
    ('a | !b' matches everything without b, plus a); they must fail
    fast at parse time with a clear error, not inside the scoring job."""
    import pytest

    from pg_cjk_parser_spark.query.topk import parse_query

    for q in ("'cat' | !'dog'", "!'cat'", "!'cat' & !'dog'", "!(!( !'cat' ))"):
        with pytest.raises(ValueError, match="negation"):
            parse_query(q, mode="tsquery")
    # positive-anchored negations remain legal
    for q in ("'cat' & !'dog'", "'cat' & ( !'dog' | 'fox' )"):
        parse_query(q, mode="tsquery")
    # double negation has no positive term for the scorer either; it
    # must also fail at parse time (different message, same contract)
    with pytest.raises(ValueError):
        parse_query("!(!'cat')", mode="tsquery")


def test_search_local_equals_spark_path(spark, built):
    from pg_cjk_parser_spark.query.topk import search_local

    index_dir, _, pdocs = built
    for q in QUERIES + ["missingterm zz"]:
        got = search_local(index_dir, q, k=10)
        got = [(d, round(s, 6)) for d, s in got]
        want = brute_force_topk(pdocs, q, k=10)
        assert got == want, q
    for q in BOOL_QUERIES:
        got = [(d, round(s, 6)) for d, s in search_local(index_dir, q, k=10, mode="tsquery")]
        want = brute_force_topk(pdocs, q, k=10, mode="tsquery")
        assert got == want, q


def test_search_local_latency(built):
    import time

    from pg_cjk_parser_spark.query.topk import search_local

    index_dir, _, _ = built
    search_local(index_dir, "のび太")  # warm file metadata
    t0 = time.perf_counter()
    for _ in range(5):
        search_local(index_dir, "のび太", k=10)
    dt = (time.perf_counter() - t0) / 5
    assert dt < 2.0, f"local query path too slow: {dt:.3f}s"


def test_empty_corpus_and_missing_terms(spark, tmp_path):
    from pg_cjk_parser_spark.query.topk import search_local
    from pg_cjk_parser_spark.spark.corpus import synth_corpus

    d = str(tmp_path / "idx_empty")
    empty = synth_corpus(spark, 0, seed=1, num_partitions=1)
    st = build_index(spark, empty, d, num_buckets=4, num_salts=2)
    assert st["n_docs"] == 0
    assert search(spark, d, "のび太", k=5).count() == 0
    assert search_local(d, "のび太", k=5) == []


def test_head_term_split_across_salts(spark, built):
    """Zipf-head defense: a frequent term's postings live in multiple
    docid-salt shards, so no single reducer owns it."""
    import pyarrow.dataset as ds

    index_dir, _, _ = built
    d = ds.dataset(os.path.join(index_dir, "postings"), partitioning="hive")
    tbl = d.to_table(columns=["term", "salt"])
    import collections

    salts = collections.defaultdict(set)
    for t, slt in zip(tbl["term"].to_pylist(), tbl["salt"].to_pylist()):
        salts[t].add(slt)
    # head 2-gram terms appear in every salt shard
    heads = [t for t, s in salts.items() if len(s) == 2]
    assert len(heads) > 50


def test_pure_negation_subtree(spark, built):
    """regression: (!a & !b) subtree must exclude a and b, not match all"""
    index_dir, _, pdocs = built
    q = "'doraemnon' & ( !'梦' & !'のび' )"
    got = [
        (r.docid, round(r.score, 6))
        for r in search(spark, index_dir, q, k=10, mode="tsquery").collect()
    ]
    want = brute_force_topk(pdocs, q, k=10, mode="tsquery")
    assert got == want


def test_clean_rebuild_drops_stale_buckets(spark, tmp_path):
    from pg_cjk_parser_spark.spark.corpus import synth_corpus
    from pg_cjk_parser_spark.query.topk import search_local

    d = str(tmp_path / "rebuild")
    big = synth_corpus(spark, 200, seed=42, num_partitions=2)
    build_index(spark, big, d, num_buckets=8, num_salts=2, block_size=16)
    before = search_local(d, "のび太", k=10)
    small = synth_corpus(spark, 50, seed=42, num_partitions=2)
    st = build_index(spark, small, d, num_buckets=8, num_salts=2, block_size=16)
    assert st["n_docs"] == 50
    after = search_local(d, "のび太", k=50)
    pdocs = [
        (r.docid, r.text)
        for r in small.selectExpr("xxhash64(url) as docid", "text").collect()
    ]
    valid_ids = {d_ for d_, _ in pdocs}
    assert all(d_ in valid_ids for d_, _ in after), "stale docids survived rebuild"
    # partitionOverwriteMode restored
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "STATIC"
    ).upper() == "STATIC"


def test_crash_in_stats_write_leaves_no_torn_stats(
    spark, tmp_path, monkeypatch
):
    """stats.json is only ever replaced whole: an append that dies
    part-way through writing it leaves the previous stats.json
    loadable, and a clean rebuild that dies there leaves none (its
    first step removed the old one) until a resume rebuilds."""
    from pg_cjk_parser_spark.index.streaming import append_index_batch
    from pg_cjk_parser_spark.query.topk import load_stats

    d = str(tmp_path / "torn")
    kw = dict(num_buckets=4, num_salts=2, block_size=16)
    build_index(spark, synth_corpus(spark, 60, seed=42, num_partitions=2), d, **kw)
    real_dump = json.dump

    def torn_dump(obj, f, *args, **kwargs):
        if "avgdl" in obj:  # the stats.json write
            f.write(json.dumps(obj)[:10])
            raise OSError("disk full")
        return real_dump(obj, f, *args, **kwargs)

    small = synth_corpus(spark, 30, seed=7, num_partitions=2)
    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        append_index_batch(spark, small, d, epoch=1)
    monkeypatch.undo()
    assert load_stats(d)["n_docs"] == 60

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        build_index(spark, small, d, fingerprint="small", **kw)
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(d, "stats.json"))
    st = build_index(spark, small, d, resume=True, fingerprint="small", **kw)
    assert st["n_docs"] == 30 and load_stats(d) == st


def test_resume_invalidates_on_corpus_change(spark, tmp_path):
    """resume=True after the input corpus changed must NOT reuse stale
    buckets: the default fingerprint folds in corpus identity (doc
    count + source files), so a changed corpus rebuilds.  Both corpora
    are parquet files, so the default fingerprint identifies them."""
    from pg_cjk_parser_spark.spark.corpus import synth_corpus
    from pg_cjk_parser_spark.query.topk import search_local

    def on_disk(n, seed):
        p = str(tmp_path / f"corpus_{n}_{seed}")
        synth_corpus(spark, n, seed=seed, num_partitions=2).write.parquet(p)
        return spark.read.parquet(p)

    d = str(tmp_path / "resume_fp")
    big = on_disk(120, 42)
    st = build_index(
        spark, big, d, num_buckets=4, num_salts=2, block_size=16, resume=True
    )
    assert st["n_docs"] == 120 and not st["fingerprint"].endswith("-mem")
    small = on_disk(40, 7)
    st = build_index(
        spark, small, d, num_buckets=4, num_salts=2, block_size=16, resume=True
    )
    assert st["n_docs"] == 40
    valid = {
        r.docid for r in small.selectExpr("xxhash64(url) as docid").collect()
    }
    after = search_local(d, "のび太", k=500)
    assert all(docid in valid for docid, _ in after), "stale docids resumed"
    # the unchanged corpus resumes: epoch 0 is complete, so the build
    # returns the stored stats without rebuilding
    again = build_index(
        spark, small, d, num_buckets=4, num_salts=2, block_size=16, resume=True
    )
    assert again == st


def test_randomized_queries_vs_oracle(spark, built):
    """Property test: random boolean/phrase queries over corpus terms
    must be rank- and score-identical to the oracle (serving path)."""
    import random

    from pg_cjk_parser_spark.kernel.tokenizer import lexemes
    from pg_cjk_parser_spark.query.topk import search_local

    index_dir, _, pdocs = built
    vocab = sorted({t for _, text in pdocs[:100] for t, _ in lexemes(text)})
    rng = random.Random(2024)

    def rand_query():
        kind = rng.random()
        terms = [rng.choice(vocab) for _ in range(rng.randint(1, 3))]
        terms = [t.replace("'", "") for t in terms if t.strip()]
        if not terms:
            return "'fallback'", "tsquery"
        if kind < 0.35:
            op = rng.choice([" & ", " | "])
            q = op.join(f"'{t}'" for t in terms)
            if rng.random() < 0.4 and len(terms) > 1:
                q += f" & !'{rng.choice(vocab)}'"
            return q, "tsquery"
        if kind < 0.55:
            a, b = rng.choice(vocab), rng.choice(vocab)
            return f"'{a}' <-> '{b}'", "tsquery"
        return " ".join(terms), "plain"

    checked = 0
    for _ in range(40):
        q, mode = rand_query()
        try:
            got = [
                (d, round(s, 6)) for d, s in search_local(index_dir, q, k=10, mode=mode)
            ]
        except ValueError:
            continue  # pure-negation forms
        want = brute_force_topk(pdocs, q, k=10, mode=mode)
        assert got == want, (q, mode, got[:3], want[:3])
        checked += 1
    assert checked >= 30


def test_normalize_zht_index_and_query(spark, tmp_path):
    """normalize_zht=True: traditional and simplified spellings index
    to the same terms, and query routing normalizes query text
    automatically (both spellings of the query match)."""
    from pg_cjk_parser_spark.functions.zht2zhs import zht2zhs
    from pg_cjk_parser_spark.query.topk import search_local

    trad = "大韓民國的歷史紀錄"          # traditional spelling
    simp = zht2zhs(trad)                  # 大韩民国的历史纪录
    assert simp != trad
    docs = spark.createDataFrame(
        [(1, trad), (2, simp), (3, "unrelated english text entirely")],
        "doc_id long, text string",
    )
    d = str(tmp_path / "zht")
    build_index(
        spark, docs, d, docid_col="doc_id", num_buckets=4, num_salts=2,
        block_size=16, normalize_zht=True,
    )
    for q in (trad, simp):
        got = {docid for docid, _ in search_local(d, q, k=10)}
        assert got == {1, 2}, (q, got)
    # spark path agrees
    got = {r.docid for r in search(spark, d, trad, k=10).collect()}
    assert got == {1, 2}

    # without the flag, spellings don't cross-match
    d2 = str(tmp_path / "raw")
    build_index(
        spark, docs, d2, docid_col="doc_id", num_buckets=4, num_salts=2,
        block_size=16,
    )
    got = {docid for docid, _ in search_local(d2, trad, k=10)}
    assert got == {1}

    # streaming append + compaction preserve the flag
    from pg_cjk_parser_spark.index.compact import compact_index
    from pg_cjk_parser_spark.index.streaming import append_index_batch

    d3 = str(tmp_path / "zht_stream")
    append_index_batch(
        spark, docs, d3, epoch=0, docid_col="doc_id", num_buckets=4,
        num_salts=2, block_size=16, normalize_zht=True,
    )
    assert {docid for docid, _ in search_local(d3, trad, k=10)} == {1, 2}
    compact_index(spark, d3)
    assert {docid for docid, _ in search_local(d3, trad, k=10)} == {1, 2}


def test_search_many_matches_per_query_search(spark, built):
    """Batched workload path: one Spark job for the whole query set,
    rank- and score-identical per query to search(); unroutable
    queries are absent, not erroring."""
    from pg_cjk_parser_spark.query.topk import search_many

    batch = QUERIES + ["zzzunknownterm"]
    got = {}
    for r in search_many(spark, index_dir := built[0], batch, k=10).collect():
        got.setdefault(r.query, []).append((r.rank, r.docid, round(r.score, 6)))
    assert "zzzunknownterm" not in got
    for q in QUERIES:
        want = [
            (i + 1, r.docid, round(r.score, 6))
            for i, r in enumerate(search(spark, index_dir, q, k=10).collect())
        ]
        assert sorted(got[q]) == want, q


def test_search_many_tsquery_mode(spark, built):
    from pg_cjk_parser_spark.query.topk import search_many

    index_dir = built[0]
    q = "'野比' | 'doraemnon'"
    got = [
        (r.rank, r.docid, round(r.score, 6))
        for r in search_many(spark, index_dir, [q], k=10, mode="tsquery").collect()
    ]
    want = [
        (i + 1, r.docid, round(r.score, 6))
        for i, r in enumerate(
            search(spark, index_dir, q, k=10, mode="tsquery").collect()
        )
    ]
    assert sorted(got) == want


def test_search_many_randomized_batches(spark, built):
    """Randomized query batches (subsets of the reference query set,
    mixed known/unknown terms, duplicates allowed): search_many stays
    rank- and score-identical to per-query search()."""
    try:
        from hypothesis import given, settings, strategies as st
    except ImportError:
        import pytest

        pytest.skip("hypothesis unavailable")
    from pg_cjk_parser_spark.query.topk import search_many

    index_dir = built[0]
    pool = QUERIES + ["zzzmissing", "のび太 zzzmissing"]
    # precompute per-query reference answers once (hypothesis examples
    # then cost one Spark job each, not len(batch)+1)
    ref = {
        q: [
            (i + 1, r.docid, round(r.score, 6))
            for i, r in enumerate(search(spark, index_dir, q, k=10).collect())
        ]
        for q in pool
    }

    @settings(max_examples=10, deadline=None)
    @given(st.lists(st.sampled_from(pool), min_size=1, max_size=5))
    def check(batch):
        got = {}
        for r in search_many(spark, index_dir, batch, k=10).collect():
            got.setdefault(r.query, []).append(
                (r.rank, r.docid, round(r.score, 6))
            )
        for q in set(batch):
            assert sorted(got.get(q, [])) == ref[q], q

    check()


def test_distance_phrase_query_index_path(spark, built):
    """PG `<N>` distance phrases through the INDEX path: the bulk
    chain-start recheck must honor non-adjacent offsets, rank- and
    score-identical to the brute-force oracle."""
    index_dir, _, pdocs = built
    # '野比' <2> '大雄' skips the intermediate 比大 bigram; '<5>' must
    # then match NOTHING (same terms, wrong distance) - proving the
    # recheck tests the offset, not mere co-occurrence
    for q, expect_hits in (
        ("'のび' <2> '太の'", True),
        ("'野比' <2> '大雄'", True),
        ("'野比' <5> '大雄'", False),
    ):
        got = [
            (r.docid, round(r.score, 6))
            for r in search(spark, index_dir, q, k=10, mode="tsquery").collect()
        ]
        want = brute_force_topk(pdocs, q, k=10, mode="tsquery")
        assert got == want, (q, got[:3], want[:3])
        assert bool(got) == expect_hits, q


def test_phrase_recheck_reads_past_first_chunk(spark, built):
    """BM25 phrase recheck at small k when the best conjunctive
    candidates all fail the phrase: the recheck must keep reading
    candidates (in score order) until k docs pass, and agree with the
    brute-force oracle on both runners."""
    from pg_cjk_parser_spark.query.topk import search_local

    index_dir, _, pdocs = built
    q, k = "'动画' <-> '今天'", 2
    want = brute_force_topk(pdocs, q, k=k, mode="tsquery")
    conj = brute_force_topk(pdocs, "'动画' & '今天'", k=k, mode="tsquery")
    assert len(want) == k
    # the first k conjunctive candidates all fail the phrase
    assert not {d for d, _ in conj} & {d for d, _ in want}
    got = [
        (r.docid, round(r.score, 6))
        for r in search(spark, index_dir, q, k=k, mode="tsquery").collect()
    ]
    assert got == want
    local = search_local(index_dir, q, k=k, mode="tsquery")
    assert [(d, round(s, 6)) for d, s in local] == want


@pytest.mark.parametrize("k", [0, -1])
@pytest.mark.parametrize(
    "entry",
    [
        "search", "search_many", "search_local", "search_rank",
        "search_rank_cd", "search_many_rank", "rank_local",
    ],
)
def test_entry_points_reject_k_below_one(spark, built, entry, k):
    """Every entry point rejects k < 1 before routing, also for a
    query that matches nothing."""
    from pg_cjk_parser_spark.query import topk

    index_dir, _, _ = built
    fn = getattr(topk, entry)
    for q in ("doraemnon", "zzqxnomatch"):
        qs = [q] if entry.startswith("search_many") else q
        args = (index_dir, qs) if entry.endswith("_local") else (
            spark, index_dir, qs
        )
        with pytest.raises(ValueError, match="k must be at least 1"):
            fn(*args, k=k)


def test_rank_cd_index_path_equals_scan_path(spark, built):
    """search_rank_cd (covers ranked from index position lists) must
    be rank- and value-identical to ts_rank_cd over the raw text."""
    from pg_cjk_parser_spark.kernel.tsrank import ts_rank_cd
    from pg_cjk_parser_spark.kernel.tsvector import to_tsquery, to_tsvector
    from pg_cjk_parser_spark.query.topk import search_rank_cd

    index_dir, _, pdocs = built
    cases = [
        ("のび太", 0),            # CJK bigram phrase chain
        ("doraemnon & nobita", 0),
        ("doraemnon & nobita", 4),
        ("のび太", 32),
    ]
    # no bulk shape: the generic per-doc kernel path
    generic = [
        ("doraemnon & nobita & farm", 0),
        ("doraemnon & nobita & farm", 36),
        ("のび太 & nobita", 0),       # phrase chain and a term
        ("のび太 & nobita", 4),
    ]
    cases += generic
    nonempty = 0
    for q, method in cases:
        node = to_tsquery(q)
        scan = [
            (docid, ts_rank_cd(to_tsvector(text), node, method=method))
            for docid, text in pdocs
        ]
        scan = sorted(
            [(d, r) for d, r in scan if r > 0],
            key=lambda x: (-x[1], x[0]),
        )[:10]
        got = [
            (r.docid, r.rank)
            for r in search_rank_cd(
                spark, index_dir, q, k=10, mode="tsquery", method=method
            ).collect()
        ]
        assert got == scan, (q, method)
        assert scan or (q, method) not in generic, (q, method)
        nonempty += bool(scan)
    assert nonempty >= 3  # the comparison must not be vacuous


def _rank_entry_points(spark, cd: bool):
    """Every index-path entry point of one ranking function, as
    ``fn(index_dir, query, method)`` returning a list."""
    from pg_cjk_parser_spark.query.topk import (
        rank_local,
        search_many_rank,
        search_rank,
        search_rank_cd,
    )

    single = search_rank_cd if cd else search_rank
    return [
        lambda idx, q, m: single(
            spark, idx, q, mode="tsquery", method=m
        ).collect(),
        lambda idx, q, m: search_many_rank(
            spark, idx, [q], mode="tsquery", method=m, cd=cd
        ).collect(),
        lambda idx, q, m: rank_local(idx, q, mode="tsquery", method=m, cd=cd),
    ]


def test_rank_cd_index_path_rejects_unsupported(spark, built):
    """search_rank_cd, search_many_rank(cd=True) and rank_local(cd=True)
    reject the same method bits and query shapes, method bits before
    routing; an unsupported shape that matches nothing is empty."""
    import pytest as _pytest

    index_dir, _, _ = built
    for fn in _rank_entry_points(spark, cd=True):
        with _pytest.raises(ValueError, match="bits 4|32"):
            fn(index_dir, "doraemnon", 1)
        with _pytest.raises(ValueError, match="bits 4|32"):
            fn(index_dir, "zzqxnomatch", 2)
        with _pytest.raises(ValueError, match="conjunctive"):
            fn(index_dir, "doraemnon | nobita", 0)
        assert list(fn(index_dir, "zzqxnomatch | zzqynomatch", 0)) == []


def test_rank_cd_phrase_bulk_differential_dense_covers(spark, tmp_path):
    """The vectorized phrase-chain ranker must be bit-identical to
    kernel ts_rank_cd on adversarial texts: overlapping matches
    (のび太のび太...), repeated chain terms, distance gaps, and every
    supported normalization method."""
    from pg_cjk_parser_spark.kernel.tsrank import ts_rank_cd
    from pg_cjk_parser_spark.kernel.tsvector import to_tsquery, to_tsvector
    from pg_cjk_parser_spark.query.topk import search_rank_cd

    texts = [
        "fast table fast table fast table",
        "fast fast table table fast table",
        "fast row table fast table value fast",
        "fast value row table",
        "のび太のび太のび太",
        "のび太 のび のび太",
        "fast a table fast the row table fast value table",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    index_dir = str(tmp_path / "idx")
    build_index(
        spark, docs, index_dir, docid_col="doc_id",
        num_buckets=4, num_salts=2, block_size=4,
    )
    for q in ("fast <-> table", "fast <2> table", "のび太", "fast & table"):
        node = to_tsquery(q)
        for method in (0, 4, 32, 36):
            scan = sorted(
                [
                    (i, r)
                    for i, t in enumerate(texts)
                    if (r := ts_rank_cd(to_tsvector(t), node, method=method)) > 0
                ],
                key=lambda x: (-x[1], x[0]),
            )
            got = [
                (r.docid, r.rank)
                for r in search_rank_cd(
                    spark, index_dir, q, k=10, mode="tsquery", method=method
                ).collect()
            ]
            assert got == scan, (q, method)


def test_phrase_wider_than_maxentrypos_matches_nothing(spark, tmp_path):
    """A phrase chain spanning more positions than a doc can hold
    matches nothing on every path.  Its offset-shifted position keys
    would otherwise reach into the previous candidate's key range and
    pair one doc's first term with the next doc's second."""
    from pg_cjk_parser_spark.query.topk import rank_local, search_local

    docs = spark.createDataFrame(
        [(0, "fast table"), (1, "fast table")], "doc_id long, text string"
    )
    index_dir = str(tmp_path / "idx")
    build_index(
        spark, docs, index_dir, docid_col="doc_id",
        num_buckets=2, num_salts=1, block_size=4,
    )
    near, far = "'fast' <-> 'table'", "'fast' <65537> 'table'"
    assert [d for d, _ in search_local(index_dir, near, mode="tsquery")] == [0, 1]
    assert search_local(index_dir, far, mode="tsquery") == []
    for cd in (True, False):
        assert len(rank_local(index_dir, near, cd=cd)) == 2
        assert rank_local(index_dir, far, cd=cd) == []


def test_ts_rank_index_path_equals_scan_path(spark, built):
    """search_rank (or-path from tf streams, and-path from position
    folds) must be bit-identical to kernel ts_rank over raw text,
    with candidates equal to the @@ match set."""
    from pg_cjk_parser_spark.kernel.tsrank import ts_rank
    from pg_cjk_parser_spark.kernel.tsvector import (
        to_tsquery,
        to_tsvector,
        ts_match,
    )
    from pg_cjk_parser_spark.query.topk import search_rank

    index_dir, _, pdocs = built
    cases = [
        ("doraemnon | nobita", 0),   # flat OR -> or-path
        ("doraemnon | nobita", 1),
        ("doraemnon & nobita", 0),   # and-path proximity fold
        ("doraemnon & nobita", 2),
        ("のび太", 0),                # phrase -> and-path + @@ adjacency
        ("のび太", 32),
    ]
    # three lexemes: the and-path fold over every term pair
    three = [
        ("doraemnon & nobita & farm", 0),
        ("doraemnon & nobita & farm", 1),
        ("のび太 & nobita", 0),       # phrase chain and a term
        ("のび太 & nobita", 2),
    ]
    cases += three
    nonempty = 0
    for q, method in cases:
        node = to_tsquery(q)
        scan = []
        for docid, text in pdocs:
            v = to_tsvector(text)
            if not ts_match(v, node):
                continue
            r = ts_rank(v, node, method=method)
            if r > 0:
                scan.append((docid, r))
        scan = sorted(scan, key=lambda x: (-x[1], x[0]))[:10]
        got = [
            (r.docid, r.rank)
            for r in search_rank(
                spark, index_dir, q, k=10, mode="tsquery", method=method
            ).collect()
        ]
        assert got == scan, (q, method)
        assert scan or (q, method) not in three, (q, method)
        nonempty += bool(scan)
    assert nonempty >= 4


def test_ts_rank_index_path_rejects_unsupported(spark, built):
    """search_rank, search_many_rank(cd=False) and rank_local(cd=False)
    reject the same method bits and query shapes, method bits before
    routing; an unsupported shape that matches nothing is empty."""
    import pytest as _pytest

    index_dir, _, _ = built
    for fn in _rank_entry_points(spark, cd=False):
        with _pytest.raises(ValueError, match="1|2|32"):
            fn(index_dir, "doraemnon", 8)
        with _pytest.raises(ValueError, match="1|2|32"):
            fn(index_dir, "zzqxnomatch", 4)
        with _pytest.raises(ValueError, match="flat-OR"):
            fn(index_dir, "doraemnon | (nobita & doraemon)", 0)
        assert list(
            fn(index_dir, "zzqxnomatch | (zzqynomatch & zzqznomatch)", 0)
        ) == []


def test_prefix_queries_index_path(spark, built):
    """Prefix expansion against the termstats dictionary must make
    the index path agree with scan-path ts_match + BM25 over the
    expanded OR, across search / search_local / search_rank."""
    from pg_cjk_parser_spark.kernel.tsvector import to_tsquery, to_tsvector, ts_match
    from pg_cjk_parser_spark.query.topk import (
        expand_prefix,
        load_stats,
        search,
        search_local,
        search_rank,
    )

    index_dir, stats, pdocs = built
    terms = expand_prefix(index_dir, "dora", load_stats(index_dir))
    assert "doraemnon" in terms
    node = to_tsquery("dora:*")
    expected_docs = {d for d, t in pdocs if ts_match(to_tsvector(t), node)}
    assert expected_docs  # not vacuous

    got = search(spark, index_dir, "dora:*", k=1000, mode="tsquery").collect()
    assert {r.docid for r in got} == expected_docs
    loc = search_local(index_dir, "dora:*", k=1000, mode="tsquery")
    assert [(r.docid, round(r.score, 9)) for r in got[:10]] == [
        (d, round(s, 9)) for d, s in loc[:10]
    ]
    # rank or-path over the expansion: VALUES must equal scan-path
    # kernel ts_rank, which counts the prefix as ONE calc_rank_or
    # item (dividing by the expansion size instead was a real bug)
    from pg_cjk_parser_spark.kernel.tsrank import ts_rank

    ranked = search_rank(
        spark, index_dir, "dora:*", k=5, mode="tsquery"
    ).collect()
    kern = sorted(
        (
            (d, ts_rank(to_tsvector(t), node))
            for d, t in pdocs
            if d in expected_docs
        ),
        key=lambda kv: (-kv[1], kv[0]),
    )[:5]
    assert [(r.docid, r.rank) for r in ranked] == kern
    # mixed exact|prefix OR: the exact term is ALSO inside the
    # expansion, so its entry contributes once per item (twice) and
    # the divisor is the 2 pre-expansion items
    node_mixed = to_tsquery("doraemnon | dora:*")
    ranked_m = search_rank(
        spark, index_dir, "doraemnon | dora:*", k=5, mode="tsquery"
    ).collect()
    kern_m = sorted(
        (
            (d, ts_rank(to_tsvector(t), node_mixed))
            for d, t in pdocs
            if ts_match(to_tsvector(t), node_mixed)
        ),
        key=lambda kv: (-kv[1], kv[0]),
    )[:5]
    assert [(r.docid, r.rank) for r in ranked_m] == kern_m
    # same TEXT as both exact term and prefix: the kernel treats them
    # as TWO items (the matched entry contributes via both, divisor
    # 2) - the index path must not dedupe them by text
    node_dup = to_tsquery("'doraemnon' | doraemnon:*")
    ranked_d = search_rank(
        spark, index_dir, "'doraemnon' | doraemnon:*", k=5, mode="tsquery"
    ).collect()
    kern_d = sorted(
        (
            (d, ts_rank(to_tsvector(t), node_dup))
            for d, t in pdocs
            if ts_match(to_tsvector(t), node_dup)
        ),
        key=lambda kv: (-kv[1], kv[0]),
    )[:5]
    assert [(r.docid, r.rank) for r in ranked_d] == kern_d
    # no-match prefix under OR must not kill the other branch
    both = search(
        spark, index_dir, "zzzznope:* | doraemnon", k=10, mode="tsquery"
    ).collect()
    assert both


def test_prefix_expansion_cap(spark, built):
    import pytest as _pytest

    from pg_cjk_parser_spark.query.topk import expand_prefix, load_stats

    index_dir, _, _ = built
    with _pytest.raises(ValueError, match="more than 1"):
        expand_prefix(index_dir, "d", load_stats(index_dir), max_terms=1)


def test_rank_local_equals_spark_paths(spark, built):
    """Serving-tier rank_local (no Spark job) must equal the Spark
    rank paths for both ranking functions and all supported shapes."""
    from pg_cjk_parser_spark.query.topk import (
        rank_local,
        search_rank,
        search_rank_cd,
    )

    index_dir, _, _ = built
    cases = [
        ("のび太", True, 0),
        ("doraemnon & nobita", True, 4),
        ("doraemnon & nobita", False, 2),
        ("doraemnon | nobita", False, 0),
    ]
    nonempty = 0
    for q, cd, method in cases:
        fn = search_rank_cd if cd else search_rank
        spark_res = [
            (r.docid, r.rank)
            for r in fn(
                spark, index_dir, q, k=10, mode="tsquery", method=method
            ).collect()
        ]
        local_res = rank_local(
            index_dir, q, k=10, mode="tsquery", method=method, cd=cd
        )
        assert local_res == spark_res, (q, cd, method)
        nonempty += bool(spark_res)
    assert nonempty >= 3


def test_rank_over_streaming_epoch_index(spark, tmp_path):
    """Rank paths must read epoch-layout (streaming append) indexes
    identically to a batch rebuild of the same corpus."""
    from pg_cjk_parser_spark.index.streaming import append_index_batch
    from pg_cjk_parser_spark.query.topk import search_rank_cd

    texts = [
        (i, t)
        for i, t in enumerate(
            ["fast table merge", "fast row table", "fast table fast table",
             "merge value", "fast table merge fast table"] * 4
        )
    ]
    half = len(texts) // 2
    sdir = str(tmp_path / "stream")
    for ep, (lo, hi) in enumerate(((0, half), (half, len(texts)))):
        df = spark.createDataFrame(
            texts[lo:hi], "doc_id long, text string"
        )
        append_index_batch(
            spark, df, sdir, epoch=ep, docid_col="doc_id",
            num_buckets=4, num_salts=2, block_size=4,
        )
    bdir = str(tmp_path / "batch")
    build_index(
        spark,
        spark.createDataFrame(texts, "doc_id long, text string"),
        bdir, docid_col="doc_id",
        num_buckets=4, num_salts=2, block_size=4,
    )
    q = "fast <-> table"
    a = search_rank_cd(spark, sdir, q, k=20, mode="tsquery").collect()
    b = search_rank_cd(spark, bdir, q, k=20, mode="tsquery").collect()
    assert [(r.docid, r.rank) for r in a] == [(r.docid, r.rank) for r in b]
    assert a


def test_prefix_query_in_batched_search(spark, built):
    """search_many routes prefix queries through the same dictionary
    expansion - batched results equal per-query search."""
    from pg_cjk_parser_spark.query.topk import search, search_many

    index_dir, _, _ = built
    batch = search_many(
        spark, index_dir, ["dora:*", "のび太"], k=10, mode="tsquery"
    ).collect()
    per = {
        q: [
            (r.docid, round(r.score, 9))
            for r in search(spark, index_dir, q, k=10, mode="tsquery").collect()
        ]
        for q in ("dora:*", "のび太")
    }
    got = {}
    for r in batch:
        got.setdefault(r.query, []).append((r.docid, round(r.score, 9)))
    assert got == {q: v for q, v in per.items() if v}


def test_search_many_rank_matches_per_query(spark, built):
    from pg_cjk_parser_spark.query.topk import (
        search_many_rank,
        search_rank,
        search_rank_cd,
    )

    index_dir, _, _ = built
    qs = ["のび太", "doraemnon & nobita"]
    batch = search_many_rank(
        spark, index_dir, qs, k=10, mode="tsquery", cd=True
    ).collect()
    got = {}
    for r in batch:
        got.setdefault(r.query, []).append((r.docid, r.score))
    for q in qs:
        per = [
            (r.docid, r.rank)
            for r in search_rank_cd(
                spark, index_dir, q, k=10, mode="tsquery"
            ).collect()
        ]
        assert got.get(q, []) == per, q
    # or-path variant
    batch2 = search_many_rank(
        spark, index_dir, ["doraemnon | nobita"], k=10,
        mode="tsquery", cd=False,
    ).collect()
    per2 = [
        (r.docid, r.rank)
        for r in search_rank(
            spark, index_dir, "doraemnon | nobita", k=10, mode="tsquery"
        ).collect()
    ]
    assert [(r.docid, r.score) for r in batch2] == per2


def test_rank_cd_clamped_position_collision_falls_back(spark, tmp_path):
    """Docs longer than MAXENTRYPOS clamp tail positions to 16383, so
    distinct lexemes can share a position - the vectorized rank paths
    must detect the key collision and fall back to the exact kernel
    path instead of emitting infinite ranks."""
    import math

    from pg_cjk_parser_spark.kernel.tsrank import ts_rank_cd
    from pg_cjk_parser_spark.kernel.tsvector import to_tsquery, to_tsvector
    from pg_cjk_parser_spark.query.topk import search_rank_cd

    long_text = ("filler " * 16390) + "doraemnon nobita"
    texts = [(0, long_text), (1, "doraemnon row nobita")]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    idx = str(tmp_path / "clamp")
    build_index(
        spark, docs, idx, docid_col="doc_id",
        num_buckets=4, num_salts=2, block_size=4,
    )
    for q in ("doraemnon & nobita", "doraemnon <-> nobita"):
        node = to_tsquery(q)
        scan = sorted(
            (
                (i, r)
                for i, t in texts
                if (r := ts_rank_cd(to_tsvector(t), node)) > 0
            ),
            key=lambda x: (-x[1], x[0]),
        )
        got = [
            (r.docid, r.rank)
            for r in search_rank_cd(
                spark, idx, q, k=10, mode="tsquery"
            ).collect()
        ]
        assert got == scan, q
        assert all(math.isfinite(r) for _, r in got)
