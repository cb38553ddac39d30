"""Document deletion (tombstones): every query path must exclude
deleted docs with scores of the survivors UNCHANGED (stats stay as
built, Lucene live-docs behavior), and compaction must apply the
tombstones physically so the index equals a fresh build over the
remaining corpus."""

import pytest

from pg_cjk_parser_spark.index.build import build_index
from pg_cjk_parser_spark.index.compact import compact_index
from pg_cjk_parser_spark.index.tombstones import (
    clear_tombstones,
    delete_docs,
    load_tombstones,
)
from pg_cjk_parser_spark.query.topk import (
    load_stats,
    rank_local,
    search,
    search_local,
    search_many,
    search_rank,
    search_rank_cd,
)

TEXTS = [
    "fast table merge big",
    "fast row table batch",
    "fast table fast table spark",
    "merge value fast spark",
    "fast table merge fast table",
    "spark merge batch big row",
    "value key line sort",
    "fast table spark merge",
] * 3  # 24 docs


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("tombidx"))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )
    build_index(
        spark, docs, index_dir, docid_col="doc_id",
        num_buckets=4, num_salts=2, block_size=4,
    )
    return index_dir, docs


QUERIES = [
    ("fast table", "plain", search),          # conjunctive + phrase chain? plain AND
    ("'fast' | 'spark' | 'batch'", "tsquery", search),   # flat-OR WAND
    ("('fast' <-> 'table') | 'batch'", "tsquery", search),  # boolean tree
]


def test_all_paths_exclude_deleted_with_unchanged_scores(spark, built):
    index_dir, docs = built
    before = {}
    for q, mode, fn in QUERIES:
        before[q] = [
            (r.docid, r.score)
            for r in fn(spark, index_dir, q, k=100, mode=mode).collect()
        ]
    before_cd = [
        (r.docid, r.rank)
        for r in search_rank_cd(
            spark, index_dir, "fast <-> table", k=100
        ).collect()
    ]
    before_rk = [
        (r.docid, r.rank)
        for r in search_rank(
            spark, index_dir, "'fast' | 'spark'", k=100
        ).collect()
    ]

    dead = {0, 2, 5, 9, 23}
    assert delete_docs(index_dir, dead) == len(dead)
    try:
        for q, mode, fn in QUERIES:
            got = [
                (r.docid, r.score)
                for r in fn(spark, index_dir, q, k=100, mode=mode).collect()
            ]
            want = [(d, s) for d, s in before[q] if d not in dead]
            assert got == want, q
        # serving path agrees
        got_local = search_local(index_dir, "fast table", k=100)
        want = [(d, s) for d, s in before["fast table"] if d not in dead]
        assert [(d, round(s, 9)) for d, s in got_local] == [
            (d, round(s, 9)) for d, s in want
        ]
        # rank paths
        got_cd = [
            (r.docid, r.rank)
            for r in search_rank_cd(
                spark, index_dir, "fast <-> table", k=100
            ).collect()
        ]
        assert got_cd == [(d, r) for d, r in before_cd if d not in dead]
        got_rk = [
            (r.docid, r.rank)
            for r in search_rank(
                spark, index_dir, "'fast' | 'spark'", k=100
            ).collect()
        ]
        assert got_rk == [(d, r) for d, r in before_rk if d not in dead]
        assert rank_local(index_dir, "fast <-> table", k=100) == got_cd
        # batched path
        sm = search_many(spark, index_dir, ["fast table"], k=100).collect()
        assert [(r.docid, r.score) for r in sm] == want
        # idempotent + nonexistent ids harmless
        delete_docs(index_dir, [0, 999999])
        again = [
            (r.docid, r.score)
            for r in search(
                spark, index_dir, "fast table", k=100
            ).collect()
        ]
        assert again == want
    finally:
        clear_tombstones(index_dir)


def test_compact_applies_tombstones_equals_fresh_build(
    spark, tmp_path_factory
):
    idx_a = str(tmp_path_factory.mktemp("tomb_a"))
    idx_b = str(tmp_path_factory.mktemp("tomb_b"))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )
    build_index(
        spark, docs, idx_a, docid_col="doc_id",
        num_buckets=4, num_salts=2, block_size=4,
    )
    dead = {1, 4, 7, 20}
    delete_docs(idx_a, dead)
    compact_index(spark, idx_a)
    assert load_tombstones(idx_a) is None  # applied and cleared

    remaining = docs.where(~docs.doc_id.isin(list(dead)))
    build_index(
        spark, remaining, idx_b, docid_col="doc_id",
        num_buckets=4, num_salts=2, block_size=4,
    )
    sa, sb = load_stats(idx_a), load_stats(idx_b)
    for key in ("n_docs", "total_tf", "n_postings"):
        assert sa[key] == sb[key], key
    assert sa["avgdl"] == pytest.approx(sb["avgdl"])

    for q, mode in (
        ("fast table", "plain"),
        ("'fast' | 'spark' | 'batch'", "tsquery"),
    ):
        ra = [
            (r.docid, round(r.score, 9))
            for r in search(spark, idx_a, q, k=100, mode=mode).collect()
        ]
        rb = [
            (r.docid, round(r.score, 9))
            for r in search(spark, idx_b, q, k=100, mode=mode).collect()
        ]
        assert ra == rb, q


def test_upsert_replaces_document_version(spark, tmp_path):
    """upsert_index_batch: queries see exactly the NEW version - the
    old version stops matching (even for terms the new version
    dropped), phrases/ranks read the new positions, and compaction
    equals a fresh build of the final corpus state."""
    from pg_cjk_parser_spark.index.streaming import (
        append_index_batch,
        upsert_index_batch,
    )

    idx = str(tmp_path / "ups")
    v1 = [
        (0, "fast table merge"),
        (1, "spark batch value"),
        (2, "fast table spark"),
        (3, "merge key line"),
    ]
    append_index_batch(
        spark,
        spark.createDataFrame(v1, "doc_id long, text string"),
        idx, epoch=0, docid_col="doc_id",
        num_buckets=4, num_salts=2, block_size=4,
    )
    # doc1 drops 'spark' and gains 'fast table'; doc2 reorders so the
    # phrase 'fast <-> table' breaks
    v2 = {1: "fast table key", 2: "table big fast"}
    upsert_index_batch(
        spark,
        spark.createDataFrame(
            list(v2.items()), "doc_id long, text string"
        ),
        idx, epoch=1, docid_col="doc_id",
        num_buckets=4, num_salts=2, block_size=4,
    )

    def ids(q, mode="tsquery", fn=search):
        return sorted(
            r.docid for r in fn(spark, idx, q, k=50, mode=mode).collect()
        )

    final = {0: "fast table merge", 1: "fast table key",
             2: "table big fast", 3: "merge key line"}

    # 'spark' existed only in the replaced v1 versions -> no matches
    assert ids("'spark'") == []
    # the phrase holds in doc0/doc1 but doc2's reorder broke it
    assert ids("'fast' <-> 'table'") == [0, 1]
    assert ids("'fast' & 'table'") == [0, 1, 2]
    # rank path reads the NEW positions, identical to scanning the
    # final texts
    from pg_cjk_parser_spark.kernel.tsrank import ts_rank_cd
    from pg_cjk_parser_spark.kernel.tsvector import to_tsquery, to_tsvector

    node = to_tsquery("fast <-> table")
    scan = sorted(
        (
            (d, r)
            for d, t in final.items()
            if (r := ts_rank_cd(to_tsvector(t), node)) > 0
        ),
        key=lambda x: (-x[1], x[0]),
    )
    got = [
        (r.docid, r.rank)
        for r in search_rank_cd(
            spark, idx, "fast <-> table", k=50
        ).collect()
    ]
    assert got == scan
    assert rank_local(idx, "fast <-> table", k=50) == scan
    # serving BM25 agrees with the Spark path on the upserted index
    assert [
        d for d, _ in search_local(idx, "'fast' <-> 'table'", k=50,
                                   mode="tsquery")
    ] == [r.docid for r in search(
        spark, idx, "'fast' <-> 'table'", k=50, mode="tsquery"
    ).collect()]

    # compaction folds the masked versions out: equals a fresh build
    # of the final corpus state
    compact_index(spark, idx)
    assert load_tombstones(idx) is None
    fresh = str(tmp_path / "fresh")
    build_index(
        spark,
        spark.createDataFrame(
            sorted(final.items()), "doc_id long, text string"
        ),
        fresh, docid_col="doc_id",
        num_buckets=4, num_salts=2, block_size=4,
    )
    sa, sb = load_stats(idx), load_stats(fresh)
    for key in ("n_docs", "total_tf", "n_postings"):
        assert sa[key] == sb[key], key
    for q in ("'fast' <-> 'table'", "'merg' | 'key'"):
        ra = [
            (r.docid, round(r.score, 9))
            for r in search(spark, idx, q, k=50, mode="tsquery").collect()
        ]
        rb = [
            (r.docid, round(r.score, 9))
            for r in search(spark, fresh, q, k=50, mode="tsquery").collect()
        ]
        assert ra == rb, q
    # re-delivery of the same upsert epoch is a no-op
    upsert_index_batch(
        spark,
        spark.createDataFrame(
            list(v2.items()), "doc_id long, text string"
        ),
        idx, epoch=1, docid_col="doc_id",
        num_buckets=4, num_salts=2, block_size=4,
    )
    assert ids("'fast' <-> 'table'") == [0, 1]


def test_merge_epochs_all_masked_produces_empty_target(spark, tmp_path):
    """Merging epochs whose every posting is tombstone-masked must
    not crash on the schema-less empty parquet re-read: the merge
    applies the deletes outright (no target dirs land), the manifests
    fold with the removal recorded, and queries keep working."""
    from pg_cjk_parser_spark.index.compact import merge_epochs
    from pg_cjk_parser_spark.index.streaming import append_index_batch

    idx = str(tmp_path / "allmask")
    for ep, rows in enumerate(
        [[(1, "fast table")], [(2, "merge value")], [(3, "spark rows")]]
    ):
        append_index_batch(
            spark,
            spark.createDataFrame(rows, "doc_id long, text string"),
            idx, epoch=ep, docid_col="doc_id",
            num_buckets=4, num_salts=2, block_size=4,
        )
    delete_docs(idx, [1, 2])  # everything in epochs 0 and 1
    out = merge_epochs(spark, idx, [0, 1])
    # the fully-masked merge leaves no target data dirs
    import os as _os

    assert not _os.path.isdir(_os.path.join(idx, "postings", "epoch=1"))
    assert [
        r.docid for r in search(spark, idx, "fast table", k=5).collect()
    ] == []
    assert [
        r.docid for r in search(spark, idx, "spark rows", k=5).collect()
    ] == [3]
    assert [d for d, _ in search_local(idx, "spark rows", k=5)] == [3]
    assert out["n_docs"] == 1  # removal recorded in the manifest fold


def test_merge_epochs_selective_compaction(spark, tmp_path):
    """merge_epochs folds a subset of epochs into one: query results
    are unchanged, stats stay exact, unmerged epochs stay untouched,
    and tombstones crossing the merge boundary behave like segment
    merges (masked versions drop; the files remain valid for
    unmerged epochs)."""
    from pg_cjk_parser_spark.index.compact import merge_epochs
    from pg_cjk_parser_spark.index.streaming import (
        append_index_batch,
        upsert_index_batch,
    )

    idx = str(tmp_path / "merge")
    batches = {
        0: [(0, "fast table merge"), (1, "spark batch value")],
        1: [(2, "fast table spark"), (3, "merge key line")],
        2: [(4, "fast value row"), (5, "table big batch")],
    }
    for e, rows in batches.items():
        append_index_batch(
            spark,
            spark.createDataFrame(rows, "doc_id long, text string"),
            idx, epoch=e, docid_col="doc_id",
            num_buckets=4, num_salts=2, block_size=4,
        )
    # upsert doc1 at epoch 3 (tombstone upto=2 crosses the merge set)
    upsert_index_batch(
        spark,
        spark.createDataFrame(
            [(1, "fast table key")], "doc_id long, text string"
        ),
        idx, epoch=3, docid_col="doc_id",
        num_buckets=4, num_salts=2, block_size=4,
    )

    def snap():
        out = {}
        for q, mode in (
            ("fast table", "plain"),
            ("'fast' | 'batch' | 'key'", "tsquery"),
            ("'fast' <-> 'table'", "tsquery"),
        ):
            out[q] = [
                (r.docid, round(r.score, 9))
                for r in search(
                    spark, idx, q, k=50, mode=mode
                ).collect()
            ]
        return out

    before_docs = {
        q: {d for d, _ in rows} for q, rows in snap().items()
    }
    st_before = load_stats(idx)
    st = merge_epochs(spark, idx, [0, 1])
    assert sorted(st["epochs"]) == [1, 2, 3]
    # same matching doc SET (ranks may shift: the merged portion's
    # stats refresh changes idf)...
    assert {
        q: {d for d, _ in rows} for q, rows in snap().items()
    } == before_docs
    # ...and scores equal to the EQUIVALENT index where the merged
    # epochs never contained the dead version (merge refreshes the
    # merged portion's stats, like a segment merge)
    ref = str(tmp_path / "ref")
    for e, rows in (
        (1, [(0, "fast table merge"), (2, "fast table spark"),
             (3, "merge key line")]),
        (2, batches[2]),
        (3, [(1, "fast table key")]),
    ):
        append_index_batch(
            spark,
            spark.createDataFrame(rows, "doc_id long, text string"),
            ref, epoch=e, docid_col="doc_id",
            num_buckets=4, num_salts=2, block_size=4,
        )
    def snap_of(d):
        out = {}
        for q, mode in (
            ("fast table", "plain"),
            ("'fast' | 'batch' | 'key'", "tsquery"),
            ("'fast' <-> 'table'", "tsquery"),
        ):
            out[q] = [
                (r.docid, round(r.score, 9))
                for r in search(spark, d, q, k=50, mode=mode).collect()
            ]
        return out
    assert snap() == snap_of(ref)
    # stats: doc1's masked epoch-0 version fell out of the counts
    assert st["n_docs"] == st_before["n_docs"] - 1
    assert load_tombstones(idx) is not None  # files remain
    # a full compact afterwards keeps the same results
    merged_snap = snap()
    compact_index(spark, idx)
    assert snap() == merged_snap
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least two"):
        merge_epochs(spark, idx, [3])
    with _pytest.raises(ValueError, match="unknown epochs"):
        merge_epochs(spark, idx, [97, 98])


def test_maintain_index_policy(spark, tmp_path):
    """maintain_index folds the smallest epochs until the bound holds,
    with identical query results (no tombstones -> stats unchanged)."""
    from pg_cjk_parser_spark.index.compact import maintain_index
    from pg_cjk_parser_spark.index.streaming import append_index_batch

    idx = str(tmp_path / "maint")
    for e in range(6):
        rows = [(10 * e + i, f"fast table doc{e}") for i in range(e + 1)]
        append_index_batch(
            spark,
            spark.createDataFrame(rows, "doc_id long, text string"),
            idx, epoch=e, docid_col="doc_id",
            num_buckets=4, num_salts=2, block_size=4,
        )
    before = [
        (r.docid, round(r.score, 9))
        for r in search(spark, idx, "fast table", k=50).collect()
    ]
    st = maintain_index(spark, idx, max_epochs=3, merge_factor=3)
    assert len(st["epochs"]) <= 3
    after = [
        (r.docid, round(r.score, 9))
        for r in search(spark, idx, "fast table", k=50).collect()
    ]
    assert after == before
    # idempotent when within bounds
    st2 = maintain_index(spark, idx, max_epochs=3, merge_factor=3)
    assert st2["epochs"] == st["epochs"]


def test_randomized_mutations_vs_brute_force(spark, tmp_path):
    """Randomized CRUD differential: random corpus, random upsert
    batch, random deletions, random queries - the index must agree
    with matching + scoring the final live corpus directly (BM25
    scored with the index's own frozen stats; brute side replicates
    them), across conjunctive / OR / phrase shapes."""
    import random

    from pg_cjk_parser_spark.index.streaming import (
        append_index_batch,
        upsert_index_batch,
    )
    from pg_cjk_parser_spark.kernel.tsvector import (
        to_tsquery,
        to_tsvector,
        ts_match,
    )
    from pg_cjk_parser_spark.query.topk import idf, load_stats

    rng = random.Random(23)
    vocab = "fast table merge spark value big batch row key line".split()

    def text():
        return " ".join(
            rng.choice(vocab) for _ in range(rng.randint(3, 18))
        )

    idx = str(tmp_path / "fuzz")
    v1 = [(i, text()) for i in range(60)]
    append_index_batch(
        spark, spark.createDataFrame(v1, "doc_id long, text string"),
        idx, epoch=0, docid_col="doc_id",
        num_buckets=8, num_salts=2, block_size=8,
    )
    ups = {i: text() for i in rng.sample(range(60), 15)}
    upsert_index_batch(
        spark,
        spark.createDataFrame(list(ups.items()), "doc_id long, text string"),
        idx, epoch=1, docid_col="doc_id",
        num_buckets=8, num_salts=2, block_size=8,
    )
    dead = set(rng.sample(range(60), 10))
    delete_docs(idx, dead)

    live = {
        i: ups.get(i, t) for i, t in v1 if i not in dead
    }
    stats = load_stats(idx)
    k1, b, avgdl, n_docs = (
        stats["k1"], stats["b"], stats["avgdl"], stats["n_docs"],
    )
    # df per the index's termstats (both versions count until compact),
    # over STEMMED lexemes like the engine
    from pg_cjk_parser_spark.kernel.tsrank import cnt_length
    from pg_cjk_parser_spark.kernel.tsvector import query_terms

    df: dict[str, int] = {}
    for _, t in list(v1) + list(ups.items()):
        for term in to_tsvector(t):
            df[term] = df.get(term, 0) + 1

    def brute(q):
        node = to_tsquery(q)
        out = []
        for i, t in live.items():
            v = to_tsvector(t)
            if not ts_match(v, node):
                continue
            dl = cnt_length(v)
            s = 0.0
            for term in sorted(query_terms(node)):
                tf = len(v.get(term, ()))
                if tf:
                    s += idf(n_docs, df.get(term, 0)) * tf / (
                        tf + k1 * (1 - b + b * dl / avgdl)
                    )
            out.append((i, round(s, 9)))
        out.sort(key=lambda x: (-x[1], x[0]))
        return out

    shapes = []
    for _ in range(12):
        a, c, d = rng.sample(vocab, 3)
        shapes += [
            f"'{a}' & '{c}'",
            f"'{a}' | '{c}' | '{d}'",
            f"'{a}' <-> '{c}'",
            f"('{a}' <-> '{c}') | '{d}'",
        ]
    checked = 0
    for q in shapes:
        got = [
            (r.docid, round(r.score, 9))
            for r in search(spark, idx, q, k=100, mode="tsquery").collect()
        ]
        want = brute(q)
        assert got == want, q
        checked += bool(want)
    assert checked >= 20


def test_reinsert_after_plain_delete_is_visible(spark, tmp_path):
    """PG DELETE-then-INSERT parity: a plain delete bounds at the
    current max epoch, so re-indexing the docid in a newer epoch
    makes it visible again (and compaction keeps only the new
    version)."""
    from pg_cjk_parser_spark.index.streaming import append_index_batch

    idx = str(tmp_path / "reins")
    append_index_batch(
        spark,
        spark.createDataFrame(
            [(7, "fast table"), (8, "merge value")],
            "doc_id long, text string",
        ),
        idx, epoch=0, docid_col="doc_id",
        num_buckets=4, num_salts=2, block_size=4,
    )
    delete_docs(idx, [7])
    assert [r.docid for r in search(spark, idx, "fast table", k=10).collect()] == []
    append_index_batch(
        spark,
        spark.createDataFrame([(7, "fast table big")], "doc_id long, text string"),
        idx, epoch=1, docid_col="doc_id",
        num_buckets=4, num_salts=2, block_size=4,
    )
    assert [r.docid for r in search(spark, idx, "fast table", k=10).collect()] == [7]
    compact_index(spark, idx)
    assert [r.docid for r in search(spark, idx, "fast table", k=10).collect()] == [7]
    assert load_stats(idx)["n_docs"] == 2


def test_decode_postings_exports_live_corpus(spark, tmp_path):
    """decode_postings must read mixed layouts and export only LIVE
    versions (deleted docs absent, upserted docs once, new text)."""
    from pg_cjk_parser_spark.index.compact import decode_postings
    from pg_cjk_parser_spark.index.streaming import upsert_index_batch

    idx = str(tmp_path / "exp")
    docs = spark.createDataFrame(
        [(0, "fast table"), (1, "merge value"), (2, "spark big")],
        "doc_id long, text string",
    )
    build_index(
        spark, docs, idx, docid_col="doc_id",
        num_buckets=4, num_salts=2, block_size=4,
    )
    upsert_index_batch(
        spark,
        spark.createDataFrame([(1, "key line")], "doc_id long, text string"),
        idx, epoch=1, docid_col="doc_id",
        num_buckets=4, num_salts=2, block_size=4,
    )
    delete_docs(idx, [2])
    rows = decode_postings(spark, idx).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.docid, set()).add(r.term)
    assert 2 not in by_doc                       # deleted absent
    assert by_doc[1] == {"key", "line"}          # only the new version
    assert by_doc[0] == {"fast", "tabl"}


def test_randomized_crud_prefix_websearch_rank_differential(spark, tmp_path):
    """Widened randomized CRUD differential (VERDICT r3 item 7):
    after a random build + upsert batch + deletions, the INDEX paths
    must agree with brute-force evaluation of the live corpus for

    * BM25 search with prefix (``:*``) operands - dictionary
      expansion over the index's own termstats, scores summed over
      the expanded terms (frozen two-version df, like the engine);
    * websearch-syntax queries (implicit AND, quoted phrases, OR,
      ``-negation``) through the new ``mode='websearch'`` routing;
    * ts_rank (or-path incl. prefix + mixed exact|prefix flat OR,
      and-path, phrase) and ts_rank_cd (AND / phrase) across their
      supported normalization bits, bit-identical to the kernel.

    300 shapes run through the serving tier (search_local /
    rank_local - no Spark jobs, so the breadth is cheap); a sample
    re-runs through the Spark paths to pin tier equality here too."""
    import random

    from pg_cjk_parser_spark.index.streaming import (
        append_index_batch,
        upsert_index_batch,
    )
    from pg_cjk_parser_spark.kernel.tsrank import (
        cnt_length,
        ts_rank,
        ts_rank_cd,
    )
    from pg_cjk_parser_spark.kernel.tsvector import (
        And,
        Not,
        Or,
        Phrase,
        Prefix,
        query_terms,
        to_tsquery,
        to_tsvector,
        ts_match,
        websearch_to_tsquery,
    )
    from pg_cjk_parser_spark.query.topk import (
        idf,
        load_stats,
        rank_local,
        search,
        search_local,
        search_rank,
        search_rank_cd,
    )

    rng = random.Random(97)
    vocab = "fast table merge spark value big batch row key line".split()

    def text():
        return " ".join(
            rng.choice(vocab) for _ in range(rng.randint(3, 18))
        )

    idx = str(tmp_path / "fuzz2")
    v1 = [(i, text()) for i in range(80)]
    append_index_batch(
        spark, spark.createDataFrame(v1, "doc_id long, text string"),
        idx, epoch=0, docid_col="doc_id",
        num_buckets=8, num_salts=2, block_size=8,
    )
    ups = {i: text() for i in rng.sample(range(80), 20)}
    upsert_index_batch(
        spark,
        spark.createDataFrame(list(ups.items()), "doc_id long, text string"),
        idx, epoch=1, docid_col="doc_id",
        num_buckets=8, num_salts=2, block_size=8,
    )
    dead = set(rng.sample(range(80), 12))
    delete_docs(idx, dead)

    live = {i: ups.get(i, t) for i, t in v1 if i not in dead}
    stats = load_stats(idx)
    k1, b, avgdl, n_docs = (
        stats["k1"], stats["b"], stats["avgdl"], stats["n_docs"],
    )
    df: dict[str, int] = {}
    for _, t in list(v1) + list(ups.items()):
        for term in to_tsvector(t):
            df[term] = df.get(term, 0) + 1

    def expand(p):
        return sorted(t for t in df if t.startswith(p))

    def positive_prefixes(node, neg=False):
        if isinstance(node, Prefix):
            return set() if neg else {node.term}
        if isinstance(node, (And, Or)):
            out = set()
            for c in node.children:
                out |= positive_prefixes(c, neg)
            return out
        if isinstance(node, Not):
            return positive_prefixes(node.child, not neg)
        return set()

    def brute_bm25(node):
        score_terms = set(query_terms(node))
        for p in positive_prefixes(node):
            score_terms |= set(expand(p))
        out = []
        for i, t in live.items():
            v = to_tsvector(t)
            if not ts_match(v, node):
                continue
            dl = cnt_length(v)
            s = 0.0
            for term in sorted(score_terms):
                tf = len(v.get(term, ()))
                if tf:
                    s += idf(n_docs, df.get(term, 0)) * tf / (
                        tf + k1 * (1 - b + b * dl / avgdl)
                    )
            out.append((i, round(s, 9)))
        out.sort(key=lambda x: (-x[1], x[0]))
        return out

    def brute_rank(node, method, cd):
        out = []
        for i, t in live.items():
            v = to_tsvector(t)
            if not ts_match(v, node):
                continue
            r = (
                ts_rank_cd(v, node, method=method)
                if cd
                else ts_rank(v, node, method=method)
            )
            out.append((i, r))
        out.sort(key=lambda x: (-x[1], x[0]))
        return out

    # no 's'/'t': PG english stopwords, to_tsquery("s:*") is invalid
    prefix_pool = ["b", "ta", "m", "f", "va", "l", "ba", "k"]
    bm25_shapes: list[tuple[str, str]] = []  # (query, mode)
    rank_shapes: list[tuple[str, int, bool]] = []  # (query, method, cd)
    for _ in range(25):
        a, c, d = rng.sample(vocab, 3)
        pf = rng.choice(prefix_pool)
        m_ts = rng.choice([0, 1, 2, 32])
        m_cd = rng.choice([0, 4, 32])
        bm25_shapes += [
            (f"{pf}:*", "tsquery"),
            (f"{pf}:* & '{a}'", "tsquery"),
            (f"{pf}:* | '{c}'", "tsquery"),
            ("zz:* | '%s'" % a, "tsquery"),
            (f"{a} {c}", "websearch"),
            (f'"{a} {c}"', "websearch"),
            (f"{a} or {c}", "websearch"),
            (f"{a} -{c}", "websearch"),
        ]
        rank_shapes += [
            (f"'{a}' | '{c}'", m_ts, False),
            (f"{pf}:*", m_ts, False),
            (f"'{a}' | {pf}:*", m_ts, False),
            (f"'{a}' & '{c}'", m_ts, False),
            (f"'{a}' <-> '{c}'", m_ts, False),
            (f"'{a}' & '{c}'", m_cd, True),
            (f"'{a}' <-> '{c}'", m_cd, True),
        ]

    checked = 0
    for q, mode in bm25_shapes:
        node = (
            to_tsquery(q) if mode == "tsquery" else websearch_to_tsquery(q)
        )
        got = [
            (i, round(s, 9))
            for i, s in search_local(idx, q, k=1000, mode=mode)
        ]
        want = brute_bm25(node)
        assert got == want, (q, mode)
        checked += bool(want)
    for q, method, cd in rank_shapes:
        node = to_tsquery(q)
        got = rank_local(idx, q, k=1000, mode="tsquery",
                         method=method, cd=cd)
        want = brute_rank(node, method, cd)
        assert got == want, (q, method, cd)
        checked += bool(want)
    assert len(bm25_shapes) + len(rank_shapes) >= 300
    assert checked >= 250  # non-vacuous: most shapes matched something

    # tier equality on a sample: the Spark paths must return the
    # brute top-10 too (prefix, websearch, rank or/and/cd)
    for q, mode in bm25_shapes[:6]:
        node = (
            to_tsquery(q) if mode == "tsquery" else websearch_to_tsquery(q)
        )
        got = [
            (r.docid, round(r.score, 9))
            for r in search(spark, idx, q, k=10, mode=mode).collect()
        ]
        assert got == brute_bm25(node)[:10], (q, mode)
    for q, method, cd in rank_shapes[:5]:
        fn = search_rank_cd if cd else search_rank
        got = [
            (r.docid, r.rank)
            for r in fn(spark, idx, q, k=10, mode="tsquery",
                        method=method).collect()
        ]
        assert got == brute_rank(to_tsquery(q), method, cd)[:10], (
            q, method, cd,
        )


def test_foreign_epoch_survives_epoch_bounded_tombstone(spark, tmp_path):
    """An epoch dir that no snapshot lists (an external writer's, or
    an append that crashed before its commit) is invisible to every
    reader, and an epoch-bounded tombstone bounds a LISTED
    generation-suffixed dir by its REAL epoch: compaction rewrites
    epoch 1 into ``epoch=1.g1``, and a delete bounded at epoch 0 may
    not mask the epoch-1 version there."""
    import os
    import shutil

    from pg_cjk_parser_spark.index.streaming import append_index_batch
    from pg_cjk_parser_spark.query.topk import search_local

    idx = str(tmp_path / "foreign")
    donor = str(tmp_path / "donor")
    kw = dict(docid_col="doc_id", num_buckets=4, num_salts=2)
    for e, row in enumerate([(1, "fast table"), (2, "fast value")]):
        append_index_batch(
            spark,
            spark.createDataFrame([row], "doc_id long, text string"),
            idx, epoch=e, **kw,
        )
    compact_index(spark, idx)
    assert os.listdir(os.path.join(idx, "postings")) == ["epoch=1.g1"]
    # a foreign epoch 3 lands next to it without a snapshot commit
    append_index_batch(
        spark,
        spark.createDataFrame([(3, "fast row")], "doc_id long, text string"),
        donor, epoch=3, **kw,
    )
    for sub in ("postings", "termstats"):
        shutil.move(
            os.path.join(donor, sub, "epoch=3"),
            os.path.join(idx, sub, "epoch=3"),
        )
    # delete doc 2 bounded at epoch 0: its only version is epoch 1,
    # which the bound does NOT cover - it must stay visible on every
    # path (Spark + serving), and the foreign doc 3 on none
    delete_docs(idx, [2], upto_epoch=0)
    assert sorted(
        d for d, _ in search_local(idx, "fast", k=10)
    ) == [1, 2], "epoch-1 posting wrongly masked as epoch 0"
    got = {r.docid for r in search(spark, idx, "fast", k=10).collect()}
    assert got == {1, 2}
    # and a delete bounded at epoch 1 masks it
    delete_docs(idx, [2], upto_epoch=1)
    assert [d for d, _ in search_local(idx, "fast", k=10)] == [1]
    got = {r.docid for r in search(spark, idx, "fast", k=10).collect()}
    assert got == {1}


def test_batch_merge_matches_single_queries(spark, tmp_path):
    """The batch's driver-side merge: search_many and search_many_rank
    (cd and ts_rank) rows equal per-query search / search_rank_cd /
    search_rank by float.hex and come back ordered by (query, rank) -
    at k=1, with score ties at the cut-off, with a duplicate and an
    unroutable query in the batch, on a tombstoned two-epoch index."""
    from pg_cjk_parser_spark.index.streaming import append_index_batch
    from pg_cjk_parser_spark.query.topk import search_many_rank

    idx = str(tmp_path / "idx")
    schema = "doc_id long, text string"
    build_index(
        spark, spark.createDataFrame(list(enumerate(TEXTS)), schema), idx,
        docid_col="doc_id", num_buckets=4, num_salts=2, block_size=4,
    )
    append_index_batch(
        spark,
        spark.createDataFrame(
            [(i + 24, t) for i, t in enumerate(TEXTS[:12])], schema
        ),
        idx, 1, docid_col="doc_id",
    )
    delete_docs(idx, [0, 11, 27])

    def single(fn, q, k):
        return [
            (r[0], r[1].hex())
            for r in fn(spark, idx, q, k=k, mode="tsquery").collect()
        ]

    cases = [
        (search,
         lambda qs, k: search_many(spark, idx, qs, k=k, mode="tsquery"),
         ["fast & table", "'fast' | 'spark' | 'batch'", "merge <-> fast"]),
        (search_rank_cd,
         lambda qs, k: search_many_rank(spark, idx, qs, k=k, cd=True),
         ["fast & table", "fast <-> table", "merge & spark"]),
        (search_rank,
         lambda qs, k: search_many_rank(spark, idx, qs, k=k, cd=False),
         ["fast & table", "'fast' | 'spark'", "merge <-> fast"]),
    ]
    for one, many, qs in cases:
        ties = 0
        for k in (1, 2, 3, 50):
            rows = [
                (r.query, r.rank, r.docid, r.score.hex())
                for r in many(["zzqxnomatch", *qs, qs[0]], k).collect()
            ]
            assert rows == sorted(rows), (one.__name__, k)
            assert {r[0] for r in rows} == set(qs), (one.__name__, k)
            for q in qs:
                want = single(one, q, k)
                got = [(d, s) for qq, _, d, s in rows if qq == q]
                assert got == want, (one.__name__, q, k)
                assert [r for qq, r, _, _ in rows if qq == q] == list(
                    range(1, len(want) + 1)
                )
                more = single(one, q, k + 1)
                ties += len(more) > k and more[k - 1][1] == more[k][1]
        assert ties, one.__name__  # a tie at the cut-off was exercised


def test_flat_small_epoch_tombstoned_spark_paths_match_local(spark, tmp_path):
    """On a flat small-epoch index (parquet files directly in
    epoch=N, block epochs taken from the path) with epoch-bounded
    tombstones, the Spark runner's per-salt reads agree exactly with
    the serving tier: search_many with search_local, search_rank_cd
    with rank_local."""
    import os

    from pg_cjk_parser_spark.index.streaming import append_index_batch
    from pg_cjk_parser_spark.index.tombstones import epoch_dir_layout

    idx = str(tmp_path / "flat")
    for e in range(2):
        src = str(tmp_path / f"batch{e}")
        spark.createDataFrame(
            [(i, TEXTS[i]) for i in range(e * 12, (e + 1) * 12)],
            "doc_id long, text string",
        ).write.parquet(src)
        # a parquet source carries a size estimate: small epochs go flat
        append_index_batch(
            spark, spark.read.parquet(src), idx, epoch=e,
            docid_col="doc_id", num_buckets=4, num_salts=2, block_size=4,
        )
        assert epoch_dir_layout(
            os.path.join(idx, "postings", f"epoch={e}")
        ) == "flat"
    delete_docs(idx, [0, 5, 13, 20])
    # bounded at epoch 0: masks 2, leaves epoch-1 doc 15 visible
    delete_docs(idx, [2, 15], upto_epoch=0)
    dead = {0, 2, 5, 13, 20}

    bm25 = ["fast & table", "'fast' | 'spark' | 'batch'", "merge <-> fast"]
    many = search_many(spark, idx, bm25, k=50, mode="tsquery").collect()
    for q in bm25:
        got = [(r.docid, r.score) for r in many if r.query == q]
        want = search_local(idx, q, k=50, mode="tsquery")
        assert got == want, q
        assert want and not dead & {d for d, _ in want}, q
    assert 15 in {r.docid for r in many}
    for q in ("fast <-> table", "fast & table", "merge & spark"):
        got = [
            (r.docid, r.rank)
            for r in search_rank_cd(spark, idx, q, k=50).collect()
        ]
        want = rank_local(idx, q, k=50)
        assert got == want, q
        assert want and not dead & {d for d, _ in want}, q


def test_ancestor_epoch_dir_does_not_unmask_batch_tombstones(
    spark, tmp_path
):
    """Block epochs come from the epoch=N dir directly under the shard
    root: a batch index whose PATH has an ancestor named epoch=7 still
    holds epoch-0 blocks, so a default delete (bounded at epoch 0)
    masks them on the Spark path, the serving path and in compaction."""
    idx = str(tmp_path / "epoch=7" / "idx")
    docs = spark.createDataFrame(
        [(1, "fast table"), (2, "fast value"), (3, "fast row")],
        "doc_id long, text string",
    )
    build_index(
        spark, docs, idx, docid_col="doc_id",
        num_buckets=4, num_salts=2, block_size=4,
    )
    delete_docs(idx, [2])
    assert sorted(d for d, _ in search_local(idx, "fast", k=10)) == [1, 3]
    got = {r.docid for r in search(spark, idx, "fast", k=10).collect()}
    assert got == {1, 3}
    compact_index(spark, idx)
    assert load_tombstones(idx) is None
    assert load_stats(idx)["n_docs"] == 2
    got = {r.docid for r in search(spark, idx, "fast", k=10).collect()}
    assert got == {1, 3}
    assert sorted(d for d, _ in search_local(idx, "fast", k=10)) == [1, 3]


def test_df_cache_sees_foreign_epoch_without_stats_refresh(spark, tmp_path):
    """The serving df cache serves exactly the snapshot: a foreign
    epoch landing WITHOUT a stats.json commit stays invisible to it
    (no df from unlisted termstats), and the commit that lists the
    epoch - here a re-delivery of the batch whose manifest already
    landed - replaces the cached negative entry."""
    import os
    import shutil

    from pg_cjk_parser_spark.index.streaming import append_index_batch
    from pg_cjk_parser_spark.query.topk import (
        _read_termstats,
        search_local,
        term_buckets,
    )

    idx = str(tmp_path / "main")
    donor = str(tmp_path / "donor")
    kw = dict(docid_col="doc_id", num_buckets=4, num_salts=2)
    build_index(
        spark,
        spark.createDataFrame([(1, "fast table")], "doc_id long, text string"),
        idx, **kw,
    )
    # prime the cache with a NEGATIVE entry for 'spark'
    assert search_local(idx, "spark", k=5) == []
    # donor epoch with the same layout params, moved in wholesale with
    # its manifest: the shape of an append that crashed right before
    # its commit (stats.json of idx never changes)
    batch = spark.createDataFrame([(2, "spark line")], "doc_id long, text string")
    append_index_batch(spark, batch, donor, epoch=1, **kw)
    for sub in ("postings", "termstats"):
        shutil.move(
            os.path.join(donor, sub, "epoch=1"),
            os.path.join(idx, sub, "epoch=1"),
        )
    shutil.move(
        os.path.join(donor, "manifests", "epoch=1.json"),
        os.path.join(idx, "manifests", "epoch=1.json"),
    )
    bset = [term_buckets(["spark"], 4)["spark"]]
    assert _read_termstats(idx, bset, ["spark"], load_stats(idx)) == {}
    assert search_local(idx, "spark", k=5) == []
    append_index_batch(spark, batch, idx, epoch=1, **kw)
    assert load_stats(idx)["epochs"] == [0, 1]
    assert _read_termstats(idx, bset, ["spark"], load_stats(idx)) == {
        "spark": 1
    }
    got = search_local(idx, "spark", k=5)
    assert [d for d, _ in got] == [2], got


def test_explicit_upto_racing_compaction_still_masks(spark, tmp_path):
    """A delete with an explicit below-max ``upto`` that races a
    compaction lands after the tombstone snapshot, so it survives the
    swap with a bound below the consolidated epoch.  Its file carries
    the PRE-swap generation, so load_tombstones clamps the bound up to
    the minimum live epoch (delete-wins): the target stays masked on
    every path, and the next compaction applies the delete physically
    instead of dropping it."""
    from pg_cjk_parser_spark.index.streaming import append_index_batch

    idx = str(tmp_path / "race")
    for ep, rows in enumerate(
        [[(1, "fast table"), (2, "merge value")], [(3, "fast spark")]]
    ):
        append_index_batch(
            spark,
            spark.createDataFrame(rows, "doc_id long, text string"),
            idx, epoch=ep, docid_col="doc_id",
            num_buckets=4, num_salts=2, block_size=4,
        )
    # the racer reads stats (gen 0) pre-swap, then the swap lands
    # first: simulate by capturing the pre-swap generation and writing
    # the tombstone with it after the compaction finishes
    import unittest.mock as mock

    from pg_cjk_parser_spark.index import tombstones as tmod

    pre_gen = tmod._current_gen(idx)
    compact_index(spark, idx)  # consolidates everything under epoch 1
    # "delete doc 1 in epochs <= 0" - no live epoch is <= 0 anymore
    with mock.patch.object(tmod, "_current_gen", return_value=pre_gen):
        tmod.delete_docs(idx, [1], upto_epoch=0)
    assert [
        r.docid for r in search(spark, idx, "fast table", k=10).collect()
    ] == []
    assert [d for d, _ in search_local(idx, "fast table", k=10)] == []
    # stats frozen until compact, then the delete is applied, not lost
    assert load_stats(idx)["n_docs"] == 3
    compact_index(spark, idx)
    assert load_stats(idx)["n_docs"] == 2
    assert load_tombstones(idx) is None
    assert [
        r.docid for r in search(spark, idx, "fast table", k=10).collect()
    ] == []


def test_applied_tombstone_leftover_spares_reinserted_version(
    spark, tmp_path
):
    """A delete+reinsert tombstone whose file survives the compaction
    (clear_tombstones swallows OSError per file) or is replayed must
    NOT re-activate: the compaction journals applied file names in
    stats.json, and a below-minimum bound written after the compaction
    (current generation) is a natural no-op.  Before the
    generation-stamping fix, the min-epoch clamp resurrected such
    tombstones and destroyed the reinserted version on the next
    compaction."""
    import os

    from pg_cjk_parser_spark.index.streaming import (
        append_index_batch,
        upsert_index_batch,
    )

    idx = str(tmp_path / "leftover")
    append_index_batch(
        spark,
        spark.createDataFrame(
            [(1, "fast table"), (2, "merge value")],
            "doc_id long, text string",
        ),
        idx, epoch=0, docid_col="doc_id",
        num_buckets=4, num_salts=2, block_size=4,
    )
    # upsert = tombstone(upto=0) + v2 in epoch 1
    upsert_index_batch(
        spark,
        spark.createDataFrame(
            [(1, "fresh spark rows")], "doc_id long, text string"
        ),
        idx, epoch=1, docid_col="doc_id",
        num_buckets=4, num_salts=2, block_size=4,
    )
    # simulate clear failure exactly where it happens: os.remove
    # raises for the tombstone file (clear_tombstones swallows the
    # OSError per file), so the applied file survives the compaction
    import unittest.mock as mock

    tdir = os.path.join(idx, "tombstones")
    name = os.listdir(tdir)[0]
    real_remove = os.remove

    def flaky_remove(path, *a, **kw):
        if os.path.basename(str(path)) == name:
            raise OSError("simulated clear failure")
        return real_remove(path, *a, **kw)

    with mock.patch(
        "pg_cjk_parser_spark.index.tombstones.os.remove",
        side_effect=flaky_remove,
    ):
        compact_index(spark, idx)
    assert os.path.exists(os.path.join(tdir, name))
    # the journaled applied list must neutralize the leftover file
    assert name in load_stats(idx).get("applied_tombstones", [])
    assert [
        r.docid
        for r in search(spark, idx, "fresh spark", k=10).collect()
    ] == [1]
    assert [d for d, _ in search_local(idx, "fresh spark", k=10)] == [1]
    # the next compaction must not destroy v2 either
    n_before = load_stats(idx)["n_docs"]
    compact_index(spark, idx)
    assert load_stats(idx)["n_docs"] == n_before
    assert [
        r.docid
        for r in search(spark, idx, "fresh spark", k=10).collect()
    ] == [1]
    # a fresh post-compaction replay with an explicit stale bound is a
    # no-op (current generation, below-minimum): v2 stays visible
    delete_docs(idx, [1], upto_epoch=0)
    assert [
        r.docid
        for r in search(spark, idx, "fresh spark", k=10).collect()
    ] == [1]
    assert [d for d, _ in search_local(idx, "fresh spark", k=10)] == [1]
