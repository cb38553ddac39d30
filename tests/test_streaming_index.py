"""Incremental index maintenance: appended micro-batches must answer
queries identically to a full batch rebuild, and batch re-delivery
must be idempotent."""

import pytest
from pyspark.sql import functions as F

from pg_cjk_parser_spark.index.build import build_index
from pg_cjk_parser_spark.index.streaming import append_index_batch, stream_index
from pg_cjk_parser_spark.query.oracle import brute_force_topk
from pg_cjk_parser_spark.query.topk import search
from pg_cjk_parser_spark.spark.corpus import synth_corpus

QUERIES = ["のび太", "野比大雄", "Doraemnon", "개인정보 보호법"]


def test_incremental_equals_batch(spark, tmp_path):
    inc_dir = str(tmp_path / "inc")
    docs = synth_corpus(spark, 300, seed=42, num_partitions=3)
    # three micro-batches by id ranges (distinct urls -> distinct docids)
    ids = docs.withColumn("rn", F.xxhash64("url"))
    batches = [
        docs.where(F.pmod(F.xxhash64("url"), F.lit(3)) == i) for i in range(3)
    ]
    for epoch, b in enumerate(batches):
        append_index_batch(
            spark, b, inc_dir, epoch, num_buckets=8, num_salts=2, block_size=16
        )

    pdocs = [
        (r.docid, r.text)
        for r in docs.selectExpr("xxhash64(url) as docid", "text").collect()
    ]
    for q in QUERIES:
        got = [
            (r.docid, round(r.score, 6))
            for r in search(spark, inc_dir, q, k=10).collect()
        ]
        want = brute_force_topk(pdocs, q, k=10)
        assert got == want, q


def test_epoch_redelivery_is_idempotent(spark, tmp_path):
    inc_dir = str(tmp_path / "idem")
    docs = synth_corpus(spark, 80, seed=7, num_partitions=2)
    s1 = append_index_batch(
        spark, docs, inc_dir, 0, num_buckets=8, num_salts=2, block_size=16
    )
    s2 = append_index_batch(  # same epoch delivered again
        spark, docs, inc_dir, 0, num_buckets=8, num_salts=2, block_size=16
    )
    assert s2["n_docs"] == s1["n_docs"] == 80
    assert s2["n_postings"] == s1["n_postings"]
    r = search(spark, inc_dir, "のび太", k=5).collect()
    pdocs = [
        (r2.docid, r2.text)
        for r2 in docs.selectExpr("xxhash64(url) as docid", "text").collect()
    ]
    assert [(x.docid, round(x.score, 6)) for x in r] == brute_force_topk(
        pdocs, "のび太", k=5
    )


def test_structured_streaming_sink(spark, tmp_path):
    import pandas as pd

    inc_dir = str(tmp_path / "stream_idx")
    ckpt = str(tmp_path / "ckpt")
    src_dir = str(tmp_path / "src")
    # file-source stream: write corpus parquet then stream-read it
    docs = synth_corpus(spark, 120, seed=42, num_partitions=2)
    docs.write.parquet(src_dir)
    stream = spark.readStream.schema(docs.schema).parquet(src_dir)
    q = stream_index(
        stream, inc_dir, ckpt, num_buckets=8, num_salts=2, block_size=16
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    pdocs = [
        (r.docid, r.text)
        for r in docs.selectExpr("xxhash64(url) as docid", "text").collect()
    ]
    got = [
        (r.docid, round(r.score, 6))
        for r in search(spark, inc_dir, "野比大雄", k=10).collect()
    ]
    assert got == brute_force_topk(pdocs, "野比大雄", k=10)


def test_structured_streaming_sink_onto_built_index(spark, tmp_path):
    """The sink writes micro-batch B as epoch B + 1, so streaming onto
    a built index (epoch 0) serves both corpora."""
    idx = str(tmp_path / "built_stream")
    src_dir = str(tmp_path / "src")
    docs = synth_corpus(spark, 120, seed=42, num_partitions=2)
    half = F.pmod(F.xxhash64("url"), F.lit(2))
    kw = dict(num_buckets=8, num_salts=2, block_size=16)
    build_index(spark, docs.where(half == 0), idx, **kw)
    docs.where(half == 1).write.parquet(src_dir)
    stream = spark.readStream.schema(docs.schema).parquet(src_dir)
    q = stream_index(stream, idx, str(tmp_path / "ckpt"), **kw).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)
    assert q.exception() is None

    pdocs = [
        (r.docid, r.text)
        for r in docs.selectExpr("xxhash64(url) as docid", "text").collect()
    ]
    for query in QUERIES:
        got = [
            (r.docid, round(r.score, 6))
            for r in search(spark, idx, query, k=10).collect()
        ]
        assert got == brute_force_topk(pdocs, query, k=10), query


def test_crash_before_manifest_does_not_double_count(spark, tmp_path):
    """simulate: epoch applied but manifest lost -> redelivery must not
    double-count stats or postings"""
    import os

    inc_dir = str(tmp_path / "crash")
    docs = synth_corpus(spark, 60, seed=3, num_partitions=2)
    append_index_batch(spark, docs, inc_dir, 0, num_buckets=8, num_salts=2)
    os.remove(os.path.join(inc_dir, "manifests", "epoch=0.json"))
    st = append_index_batch(spark, docs, inc_dir, 0, num_buckets=8, num_salts=2)
    assert st["n_docs"] == 60
    pdocs = [
        (r.docid, r.text)
        for r in docs.selectExpr("xxhash64(url) as docid", "text").collect()
    ]
    got = [
        (r.docid, round(r.score, 6))
        for r in search(spark, inc_dir, "のび太", k=5).collect()
    ]
    assert got == brute_force_topk(pdocs, "のび太", k=5)


def test_compaction_preserves_results(spark, tmp_path):
    import pyarrow.dataset as ds

    from pg_cjk_parser_spark.index.compact import compact_index
    from pg_cjk_parser_spark.query.topk import search_local

    inc_dir = str(tmp_path / "compact")
    docs = synth_corpus(spark, 240, seed=11, num_partitions=3)
    for epoch in range(3):
        b = docs.where(F.pmod(F.xxhash64("url"), F.lit(3)) == epoch)
        append_index_batch(
            spark, b, inc_dir, epoch, num_buckets=8, num_salts=2, block_size=16
        )
    before = {
        q: search_local(inc_dir, q, k=10) for q in ("のび太", "Doraemnon")
    }
    n_blocks_before = ds.dataset(
        inc_dir + "/postings", partitioning="hive"
    ).count_rows()

    st = compact_index(spark, inc_dir)
    assert st["n_docs"] == 240

    n_blocks_after = ds.dataset(
        inc_dir + "/postings", partitioning="hive"
    ).count_rows()
    assert n_blocks_after < n_blocks_before
    for q, want in before.items():
        got = search_local(inc_dir, q, k=10)
        assert [(d, round(s, 6)) for d, s in got] == [
            (d, round(s, 6)) for d, s in want
        ], q
    # appends still work after compaction
    extra = synth_corpus(spark, 40, seed=12, num_partitions=1)
    st2 = append_index_batch(
        spark, extra, inc_dir, 7, num_buckets=8, num_salts=2, block_size=16
    )
    assert st2["n_docs"] == 280


def test_decode_postings_roundtrip(spark, tmp_path):
    """decode_postings (index -> posting rows) must reproduce exactly
    the per-doc reference postings of the corpus (same bucket/salt/
    term/docid/tf/doclen and byte-identical encoded positions)."""
    from pg_cjk_parser_spark.index.compact import decode_postings
    from tests.index_reference import reference_postings

    d = str(tmp_path / "rt")
    docs = synth_corpus(spark, 120, seed=11, num_partitions=2)
    build_index(spark, docs, d, num_buckets=8, num_salts=2, block_size=16)
    got = [
        (r.bucket, r.salt, r.term.encode(), r.docid, r.tf, r.doclen,
         bytes(r.positions))
        for r in decode_postings(spark, d).collect()
    ]
    pdf = docs.selectExpr("xxhash64(url) as docid", "text").toPandas()
    want = [
        (b, s, *p)
        for (b, s), ps in reference_postings(pdf, 8, 2).items()
        for p in ps
    ]
    assert sorted(got) == sorted(want)


def test_streaming_exact_dedup_first_occurrence(spark, tmp_path):
    """applyInPandasWithState dedup: one emission per content digest,
    the earliest (ts, id) wins; later duplicates are swallowed whether
    they arrive in the same micro-batch or a later one."""
    import datetime as dt
    import time as _time

    from pg_cjk_parser_spark.ops.stream_ops import streaming_exact_dedup

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = str(tmp_path / "dsrc")
    schema = "doc_id long, text string, ts timestamp"
    batch1 = spark.createDataFrame(
        [(1, "aaa", t0), (2, "bbb", t0 + dt.timedelta(seconds=5))], schema
    )
    batch2 = spark.createDataFrame(
        [
            (3, "aaa", t0 + dt.timedelta(seconds=10)),   # cross-batch dup
            (4, "ccc", t0 + dt.timedelta(seconds=20)),
            (5, "ccc", t0 + dt.timedelta(seconds=15)),   # in-batch dup, earlier
        ],
        schema,
    )
    batch1.coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)  # distinct mtimes -> deterministic file order
    batch2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_exact_dedup(stream, watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.doc_id) for r in spark.sql("select * from dedup_out").collect()
    }
    assert got == {1, 2, 5}, got


def test_windowed_ingest_stats_with_watermark(spark, tmp_path):
    """Watermarked event-time windows: closed windows emit exactly
    once with late rows inside the horizon folded in."""
    import datetime as dt

    from pg_cjk_parser_spark.ops.stream_ops import windowed_ingest_stats

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = str(tmp_path / "wsrc")
    schema = "doc_id long, text string, source string, ts timestamp"
    rows = [
        (1, "abcd", "s1", t0 + dt.timedelta(seconds=10)),
        (2, "efghij", "s2", t0 + dt.timedelta(seconds=20)),
        (3, "kl", "s1", t0 + dt.timedelta(minutes=5)),  # advances watermark
    ]
    spark.createDataFrame(rows, schema).write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, text string, source string, ts timestamp"
    ).parquet(src)
    q = (
        windowed_ingest_stats(
            stream, source_col="source", window="1 minute",
            watermark="2 minutes",
        )
        .writeStream.format("memory")
        .queryName("ingest_stats")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        "select window.start as ws, n_docs, n_chars, n_sources "
        "from ingest_stats"
    ).collect()
    # only the first window is past the watermark and thus closed
    assert len(out) == 1, out
    r = out[0]
    assert r.ws == t0 and r.n_docs == 2 and r.n_chars == 10
    assert r.n_sources == 2


def test_search_survives_missing_epoch_stats(spark, tmp_path):
    """stats.json is the snapshot every reader takes its epochs from.
    One without the epoch list (only a hand-edited one lacks it)
    serves no epoch: the query paths answer nothing instead of listing
    the epoch dirs, and answer again once the list is back."""
    import json, os

    from pg_cjk_parser_spark.query.topk import search_local

    inc_dir = str(tmp_path / "legacy")
    docs = synth_corpus(spark, 100, seed=3, num_partitions=2)
    append_index_batch(
        spark, docs, inc_dir, epoch=0, num_buckets=8, num_salts=2,
        block_size=16,
    )
    before = [
        (r.docid, round(r.score, 6))
        for r in search(spark, inc_dir, "のび太", k=10).collect()
    ]
    sp = os.path.join(inc_dir, "stats.json")
    with open(sp) as f:
        stats = json.load(f)
    with open(sp, "w") as f:
        json.dump({k: v for k, v in stats.items() if k != "epochs"}, f)
    assert search(spark, inc_dir, "のび太", k=10).collect() == []
    assert search_local(inc_dir, "のび太", k=10) == []
    with open(sp, "w") as f:
        json.dump(stats, f)
    after = [
        (r.docid, round(r.score, 6))
        for r in search(spark, inc_dir, "のび太", k=10).collect()
    ]
    assert before and after == before


def test_validate_index_batch_stream_and_corruption(spark, tmp_path):
    import json, os

    from pg_cjk_parser_spark.index.validate import validate_index

    # batch index: all invariants hold, deep block sampling passes
    bdir = str(tmp_path / "vbatch")
    docs = synth_corpus(spark, 150, seed=5, num_partitions=2)
    build_index(spark, docs, bdir, num_buckets=8, num_salts=2, block_size=16)
    rep = validate_index(bdir, deep=True)
    assert rep["ok"], rep["errors"]
    assert rep["checks"]["epochs"] == 1
    assert rep["checks"]["blocks_sampled"] > 0

    # streaming index: epoch manifests + stats agree
    sdir = str(tmp_path / "vstream")
    for e in range(2):
        append_index_batch(
            spark,
            docs.where(F.pmod(F.xxhash64("url"), F.lit(2)) == e),
            sdir, epoch=e, num_buckets=8, num_salts=2, block_size=16,
        )
    rep = validate_index(sdir)
    assert rep["ok"], rep["errors"]
    assert rep["checks"]["epochs"] == 2

    # batch index + an appended epoch: the build is epoch 0, and the
    # two epoch manifests sum to the whole index
    adir = str(tmp_path / "vappend")
    half = F.pmod(F.xxhash64("url"), F.lit(2))
    build_index(
        spark, docs.where(half == 0), adir, num_buckets=8, num_salts=2,
        block_size=16,
    )
    append_index_batch(
        spark, docs.where(half == 1), adir, epoch=1, num_buckets=8,
        num_salts=2, block_size=16,
    )
    rep = validate_index(adir, deep=True)
    assert rep["ok"], rep["errors"]
    assert rep["checks"]["epochs"] == 2

    # corruption: tamper the build's epoch manifest totals -> caught
    mp = os.path.join(bdir, "manifests", "epoch=0.json")
    with open(mp) as f:
        m = json.load(f)
    m["total_tf"] += 7
    with open(mp, "w") as f:
        json.dump(m, f)
    rep = validate_index(bdir)
    assert not rep["ok"]
    assert any(
        e == f"stats.total_tf={m['total_tf'] - 7} != sum(epochs)={m['total_tf']}"
        for e in rep["errors"]
    ), rep["errors"]


def test_session_stats_batch_and_streaming(spark, tmp_path):
    """session_window semantics: events merge while gaps < gap; window
    end = last event + gap.  The same operator runs batch and (with a
    watermark) streaming; closed sessions emit once in append mode."""
    import datetime as dt

    from pg_cjk_parser_spark.ops.stream_ops import session_stats

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "user_id long, ts timestamp, value double"
    rows = [
        (1, t0, 1.0),
        (1, t0 + dt.timedelta(minutes=30), 2.0),   # merges (gap < 1h)
        (1, t0 + dt.timedelta(hours=2), 4.0),      # new session (gap >= 1h)
        (2, t0 + dt.timedelta(minutes=5), 8.0),
        # watermark driver: far-future event closes everything above
        (3, t0 + dt.timedelta(days=2), 16.0),
    ]
    df = spark.createDataFrame(rows, schema)
    got = {
        (r.user_id, r.session_start_us): r
        for r in session_stats(df, gap="1 hour").collect()
    }
    us = lambda d: int(d.timestamp() * 1_000_000)
    s1 = got[(1, us(t0))]
    assert s1.n_events == 2 and s1.sum_value == 3.0
    assert s1.session_end_us == us(t0 + dt.timedelta(hours=1, minutes=30))
    s2 = got[(1, us(t0 + dt.timedelta(hours=2)))]
    assert s2.n_events == 1 and s2.session_end_us == us(
        t0 + dt.timedelta(hours=3)
    )
    assert got[(2, us(t0 + dt.timedelta(minutes=5)))].sum_value == 8.0

    # streaming: same operator + watermark, append mode emits closed sessions
    src = str(tmp_path / "sess_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        session_stats(stream, gap="1 hour", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sess_stats")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        "select * from sess_stats order by user_id, session_start_us"
    ).collect()
    # user-3's day-2 event advances the watermark past every other
    # session; those emit exactly once, user-3's own stays open
    emitted = {(r.user_id, r.session_start_us) for r in out}
    assert emitted == {
        (1, us(t0)),
        (1, us(t0 + dt.timedelta(hours=2))),
        (2, us(t0 + dt.timedelta(minutes=5))),
    }
    for r in out:
        b = got[(r.user_id, r.session_start_us)]
        assert (r.n_events, r.sum_value, r.session_end_us) == (
            b.n_events, b.sum_value, b.session_end_us
        )


def test_maintain_index_folds_manifest_only_epochs(spark, tmp_path):
    """Empty micro-batches write an epoch manifest but no postings
    dir; maintain_index preferentially merges the smallest epochs -
    exactly those - so merge_epochs must fold manifest-only epochs
    without data to rewrite instead of wedging."""
    from pg_cjk_parser_spark.index.compact import maintain_index
    from pg_cjk_parser_spark.index.streaming import append_index_batch
    from pg_cjk_parser_spark.query.topk import search_local

    idx = str(tmp_path / "manifest_only")
    empty = spark.createDataFrame([], "doc_id long, text string")
    append_index_batch(
        spark,
        spark.createDataFrame(
            [(1, "fast table")], "doc_id long, text string"
        ),
        idx, epoch=0, docid_col="doc_id", num_buckets=4, num_salts=2,
    )
    for e in range(1, 5):
        append_index_batch(
            spark, empty, idx, epoch=e, docid_col="doc_id",
            num_buckets=4, num_salts=2,
        )
    st = maintain_index(spark, idx, max_epochs=2, merge_factor=3)
    assert len(st["epochs"]) <= 2
    assert st["n_docs"] == 1
    assert [d for d, _ in search_local(idx, "fast", k=5)] == [1]


def test_one_layout_family(spark, tmp_path, monkeypatch):
    """Build, large and small appends, merge_epochs and compact_index
    leave one layout family: postings/ and termstats/ hold only
    epoch= dirs, each epoch's termstats take its postings' layout
    (nested over the same bucket= set, or flat), and termstats routing
    for one bucket reads only that bucket's dirs of nested epochs."""
    import os

    import pg_cjk_parser_spark.index.streaming as streaming
    from pg_cjk_parser_spark.index.compact import compact_index, merge_epochs
    from pg_cjk_parser_spark.index.tombstones import epoch_dir_layout
    from pg_cjk_parser_spark.query.topk import (
        _shard_paths,
        load_stats,
        search_local,
    )

    idx = str(tmp_path / "layout")
    docs = synth_corpus(spark, 90, seed=9, num_partitions=2)
    third = F.pmod(F.xxhash64("url"), F.lit(3))
    kw = dict(num_buckets=8, num_salts=2, block_size=16)

    def subdirs(path):
        return sorted(
            n for n in os.listdir(path) if os.path.isdir(os.path.join(path, n))
        )

    def check(layouts):
        epochs = {}
        for sub in ("postings", "termstats"):
            names = subdirs(os.path.join(idx, sub))
            assert all(n.startswith("epoch=") for n in names), (sub, names)
            epochs[sub] = names
        assert epochs["postings"] == epochs["termstats"]
        got = []
        for name in epochs["postings"]:
            pe, te = (os.path.join(idx, sub, name) for sub in ("postings", "termstats"))
            got.append(epoch_dir_layout(pe))
            assert epoch_dir_layout(te) == got[-1], name
            if got[-1] == "nested":
                assert subdirs(pe) == subdirs(te), name
        assert got == layouts
        stats = load_stats(idx)
        for b in range(kw["num_buckets"]):
            for p in _shard_paths(idx, "termstats", [b], stats):
                assert (
                    os.path.basename(p) == f"bucket={b}"
                    or epoch_dir_layout(p) == "flat"
                ), p

    build_index(spark, docs.where(third == 0), idx, **kw)
    check(["nested"])
    monkeypatch.setattr(streaming, "_estimated_small", lambda batch: False)
    append_index_batch(spark, docs.where(third == 1), idx, 1, **kw)
    check(["nested", "nested"])
    monkeypatch.setattr(streaming, "_estimated_small", lambda batch: True)
    append_index_batch(spark, docs.where(third == 2), idx, 2, **kw)
    check(["nested", "nested", "flat"])
    before = {q: search_local(idx, q, k=10) for q in QUERIES}
    merge_epochs(spark, idx, [0, 1])
    check(["nested", "flat"])
    compact_index(spark, idx)
    check(["nested"])
    assert {q: search_local(idx, q, k=10) for q in QUERIES} == before
