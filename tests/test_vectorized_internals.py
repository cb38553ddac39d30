"""Focused differentials for the vectorized internals:

- spark_xxhash64_long_vec and spark_xxhash64_str_vec must be
  bit-identical to the scalar ports (and to Spark's xxhash64);
- cell_partition_key must spread real cell rows evenly over the
  shuffle partitions;
- the Arrow block encoder must yield exactly BLOCK_SCHEMA's Arrow form;
- the vectorized _packed_postings_gen must emit the same postings as
  a straightforward per-doc reference aggregation;
- the library's one block decoder (codec.decode_blocks) must match a
  per-block exact decoder (tests/index_reference.py)
  posting-for-posting, with and without tombstones, and every reader
  (compaction, queries, validate_index) must reject a corrupt block
  by name.
"""

import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from pg_cjk_parser_spark.index.build import (
    BLOCK_ARROW_SCHEMA,
    BLOCK_SCHEMA,
    PACKED_SCHEMA,
    _packed_postings_gen,
    _unpack_cell,
)
from pg_cjk_parser_spark.index.codec import _binary_parts, decode_varints
from pg_cjk_parser_spark.index.xxh64 import (
    cell_partition_key,
    spark_mmh3_int,
    spark_xxhash64_long,
    spark_xxhash64_long_vec,
    spark_xxhash64_str,
    spark_xxhash64_str_vec,
    xxh64,
)
from tests.index_reference import (
    decode_blocks_exact,
    encoded_blocks,
    reference_postings,
)


def test_xxh64_long_vec_bit_identity():
    rng = random.Random(7)
    vals = [0, 1, -1, 2**63 - 1, -(2**63), 42] + [
        rng.randint(-(2**63), 2**63 - 1) for _ in range(2000)
    ]
    out = spark_xxhash64_long_vec(np.array(vals, np.int64))
    for i, v in enumerate(vals):
        assert int(out[i]) == spark_xxhash64_long(v)


def _str_hash_vec(arr):
    return spark_xxhash64_str_vec(*_binary_parts(arr))


@pytest.fixture(scope="module")
def bench_pdf(perfbench_gen):
    """docid/text of a benchmark-generator corpus (perfbench/gen.py:
    multilingual Zipf text)."""
    corpus = perfbench_gen.make_corpus(5, 600, boilerplate_share=0.05)
    return pd.DataFrame(
        {"docid": np.asarray(corpus.doc_id, np.int64), "text": corpus.text}
    )


def _hash_strings(pdf):
    from pg_cjk_parser_spark.kernel.tokenizer import lexemes

    rng = random.Random(3)
    chars = ["a", "Z", "7", "é", "ß", "漢", "字", "한", "국", "か", "ナ", "😀", "𠀋"]
    mixed = []
    for n in range(71):  # every UTF-8 byte length 0..70, mixed widths
        s_ = ""
        while len(s_.encode()) < n:
            c = rng.choice(chars)
            if len((s_ + c).encode()) > n:
                c = "x"
            s_ += c
        mixed.append(s_)
    return (
        ["x" * n for n in range(71)]
        + mixed
        + ["漢" * n for n in range(25)]
        + ["한국어", "개인정보보호", "ひらがな", "カタカナ", "ドラえもん",
           "のび太", "😀", "👨‍👩‍👧", "🀄" * 9, "「」", "漢字とカナmixed123"]
        + sorted({t for text in pdf["text"] for t, _ in lexemes(text)})
    )


def test_xxh64_str_vec_bit_identity(bench_pdf):
    strings = _hash_strings(bench_pdf)
    arr = pa.array(strings, pa.string())
    assert _str_hash_vec(arr).tolist() == [spark_xxhash64_str(x) for x in strings]
    # a sliced array (non-zero Arrow offset) hashes its own strings
    sl = arr.slice(40, 90)
    assert _str_hash_vec(sl).tolist() == [
        spark_xxhash64_str(x) for x in strings[40:130]
    ]
    # one seed per lane (the chained array hash), over the full
    # uint64 range, against the scalar XXH64 with that seed
    rng = np.random.default_rng(11)
    seeds = rng.integers(0, 2**64, len(strings), np.uint64, endpoint=False)
    seeds[:3] = [0, 42, 2**64 - 1]
    got = spark_xxhash64_str_vec(*_binary_parts(arr), seed=seeds)
    assert got.view(np.uint64).tolist() == [
        xxh64(x.encode(), int(sd)) for x, sd in zip(strings, seeds)
    ]


def test_xxh64_str_vec_matches_spark(spark, bench_pdf):
    from pyspark.sql import functions as F

    sample = random.Random(9).sample(_hash_strings(bench_pdf), 150)
    rows = spark.createDataFrame(
        [(i, x) for i, x in enumerate(sample)], "i int, s string"
    ).select("i", F.xxhash64("s").alias("h")).collect()
    got = _str_hash_vec(pa.array(sample, pa.string()))
    for r in rows:
        assert int(got[r.i]) == r.h, sample[r.i]
    # array hashes: Spark seeds each element's XXH64 with the hash of
    # the elements before it, so xxhash64 of a k-word slice is k
    # chained vectorized passes seeded per lane
    texts = [" ".join(sample[i : i + 9]) for i in range(0, 140, 7)]
    texts += [" a  b ", "  ", ""]
    for k in (1, 3, 8):
        spans = [
            w[i : i + k]
            for w in (t.split(" ") for t in texts)
            for i in range(len(w) - k + 1)
        ]
        h = np.full(len(spans), 42, np.int64)
        for j in range(k):
            col = pa.array([s[j] for s in spans], pa.string())
            h = spark_xxhash64_str_vec(*_binary_parts(col), seed=h)
        words = F.split("t", " ")
        want = (
            spark.createDataFrame([(t,) for t in texts], "t string")
            .select(
                F.explode(
                    F.when(
                        F.size(words) >= k,
                        F.transform(
                            F.sequence(F.lit(1), F.size(words) - (k - 1)),
                            lambda i: F.xxhash64(F.slice(words, i, k)),
                        ),
                    )
                ).alias("h")
            )
            .collect()
        )
        assert h.tolist() == [r.h for r in want], k


@pytest.mark.parametrize(
    "nb, ns, parts",
    [(8, 4, 16), (64, 4, 128), (64, 4, 256), (8, 2, 3), (4, 4, 64)],
)
def test_cell_partition_key_balances_cells(spark, bench_pdf, nb, ns, parts):
    """Partition histogram of real cell rows: every partition gets
    floor or ceil of cells/parts, and cell c lands on c % parts."""
    from pyspark.sql import functions as F

    cells_pdf = pd.concat(
        list(_packed_postings_gen(iter([bench_pdf]), nb, ns)),
        ignore_index=True,
    )
    assert len(set(zip(cells_pdf["bucket"], cells_pdf["salt"]))) == nb * ns
    cell = F.col("bucket") * ns + F.col("salt")
    rows = (
        spark.createDataFrame(cells_pdf, PACKED_SCHEMA)
        .repartition(parts, cell_partition_key(cell, parts))
        .select(F.spark_partition_id().alias("p"), cell.alias("c"))
        .distinct()
        .collect()
    )
    assert sorted((r.c, r.p) for r in rows) == [
        (c, c % parts) for c in range(nb * ns)
    ]
    per = np.bincount([r.p for r in rows], minlength=parts)
    lo, hi = (nb * ns) // parts, -(-(nb * ns) // parts)
    assert per.min() >= lo and per.max() <= hi, per


def test_encoders_yield_block_arrow_schema(spark, corpus_pdf):
    """The block encoder yields batches typed exactly as Spark's Arrow
    form of BLOCK_SCHEMA (mapInArrow rejects any other types)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    want = to_arrow_schema(spark.createDataFrame([], BLOCK_SCHEMA).schema)
    assert BLOCK_ARROW_SCHEMA == want
    cells = [
        pa.RecordBatch.from_pandas(f, preserve_index=False)
        for f in _packed_postings_gen(iter([corpus_pdf]), 8, 2)
    ]
    out = list(encoded_blocks(iter(cells), 32))
    assert out and all(b.schema == want for b in out)
    n_postings = sum(len(v) for v in reference_postings(corpus_pdf, 8, 2).values())
    assert sum(int(b.column("n").to_numpy().sum()) for b in out) == n_postings


def test_block_batches_split_at_byte_cap(monkeypatch, corpus_pdf):
    """Output batches stay under the binary byte cap (int32 offsets)
    and splitting them changes no block."""
    from pg_cjk_parser_spark.index import build

    cells = [
        pa.RecordBatch.from_pandas(f, preserve_index=False)
        for f in _packed_postings_gen(iter([corpus_pdf]), 4, 2)
    ]
    whole = list(encoded_blocks(iter(cells), 32))
    monkeypatch.setattr(build, "_BATCH_BYTES", 4096)
    split = list(encoded_blocks(iter(cells), 32))
    assert len(split) > 4 * len(whole)
    bins = ("docids", "tfs", "doclens", "positions")
    for b in split:
        size = sum(len(b.column(c).buffers()[2] or b"") for c in bins)
        assert b.num_rows == 1 or size <= 4096
    assert pa.Table.from_batches(split).equals(pa.Table.from_batches(whole))


def test_mmh3_int_matches_spark_hash(spark):
    from pyspark.sql import functions as F

    rows = spark.range(-50, 200).select(
        F.col("id").cast("int").alias("v"),
        F.hash(F.col("id").cast("int")).alias("h"),
    ).collect()
    for r in rows:
        assert spark_mmh3_int(r.v) == r.h


def _blob_slices(blob: bytes, lens: np.ndarray) -> list[bytes]:
    offs = np.concatenate(([0], np.cumsum(lens))).tolist()
    return [blob[offs[i]:offs[i + 1]] for i in range(len(lens))]


def _cells_to_postings(frames):
    """(bucket, salt) -> sorted [(term, docid, tf, doclen, pos_blob)]."""
    out = {}
    for fr in frames:
        for b, s, p in zip(
            fr["bucket"].tolist(), fr["salt"].tolist(), fr["payload"].tolist()
        ):
            d, t, dl, plen, tidx, utlen, utb, pb = _unpack_cell(p)
            acc = out.setdefault((b, s), [])
            ut_sl = _blob_slices(utb, utlen)
            pb_sl = _blob_slices(pb, plen)
            for k in range(len(d)):
                acc.append(
                    (
                        ut_sl[int(tidx[k])],
                        int(d[k]),
                        int(t[k]),
                        int(dl[k]),
                        pb_sl[k],
                    )
                )
    return {k: sorted(v) for k, v in out.items()}


@pytest.fixture(scope="module")
def corpus_pdf():
    from pg_cjk_parser_spark.spark.corpus import _doc_fields

    rows = [(1728345600 + i, _doc_fields(i, 42)[0]) for i in range(1500)]
    rows[5] = (rows[5][0], None)
    rows[6] = (rows[6][0], "")
    rows[7] = (rows[7][0], "the of and")  # stopword-only doc
    # giant doc: positions clamp at MAXENTRYPOS, so the vectorized
    # grouping must keep non-strictly-ascending position runs intact
    rows[8] = (
        rows[8][0],
        " ".join(f"w{i % 97} 漢字" for i in range(9000)),
    )
    # negative docid (xxhash64(url) ids): exercises the uint64
    # wraparound path in the vectorized salt lane and delta codec
    rows[9] = (-rows[9][0], rows[9][1])
    return pd.DataFrame(
        {"docid": [r[0] for r in rows], "text": [r[1] for r in rows]}
    )


def test_packed_gen_matches_reference(corpus_pdf):
    got = _cells_to_postings(
        _packed_postings_gen(iter([corpus_pdf]), 16, 4)
    )
    want = reference_postings(corpus_pdf, 16, 4)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k]


def test_packed_gen_batch_split_invariant(corpus_pdf):
    """Postings must not depend on Arrow batch boundaries."""
    parts = [
        corpus_pdf.iloc[ix].reset_index(drop=True)
        for ix in np.array_split(np.arange(len(corpus_pdf)), 4)
    ]
    one = _cells_to_postings(_packed_postings_gen(iter([corpus_pdf]), 8, 2))
    many = _cells_to_postings(_packed_postings_gen(iter(parts), 8, 2))
    assert one == many


@pytest.fixture(scope="module")
def corpus_blocks(corpus_pdf):
    """(cells, blocks) of the corpus: packed cells, and their encoded
    blocks as a table whose rows alternate between epochs 0 and 1."""
    cells = pd.concat(
        list(_packed_postings_gen(iter([corpus_pdf]), 8, 2)),
        ignore_index=True,
    )
    blocks = pa.Table.from_batches(
        list(encoded_blocks(iter([pa.RecordBatch.from_pandas(cells, preserve_index=False)]), 32))
    )
    epochs = pa.array(np.arange(blocks.num_rows) % 2, pa.int32())
    return cells, blocks.append_column("epoch", epochs)


def test_compact_fast_decode_matches_exact(corpus_pdf, corpus_blocks):
    """The library's whole-batch decoder == the per-block exact
    decoder, with no tombstones and with every 7th doc tombstoned at
    both epochs, some of them only up to epoch 0 (sparing epoch 1)."""
    from pg_cjk_parser_spark.index.compact import _decode_to_cells

    cells, blocks = corpus_blocks
    batches = blocks.to_batches(max_chunksize=700)  # several batches
    exact = decode_blocks_exact(blocks.to_pandas())
    fast = _cells_to_postings(_decode_to_cells(iter(batches), deleted=None))
    assert fast == exact
    # and the decode inverts the encode
    assert fast == _cells_to_postings(iter([cells]))

    dids = np.unique(corpus_pdf["docid"].to_numpy()[::7])
    upto = np.where(np.arange(dids.size) % 3 == 0, 0, 1).astype(np.int64)
    deleted = (dids, upto)
    exact = decode_blocks_exact(blocks.to_pandas(), deleted)
    fast = _cells_to_postings(_decode_to_cells(iter(batches), deleted=deleted))
    assert fast == exact
    kept = {p[1] for v in exact.values() for p in v}
    spared = set(dids[upto == 0].tolist())
    assert kept & spared and not kept & set(dids[upto == 1].tolist())
    n_all = sum(map(len, _cells_to_postings(iter([cells])).values()))
    assert sum(map(len, fast.values())) < n_all


def _corrupt_truncated(tfs, pos):
    return tfs, pos[:-1]


def _corrupt_npos(tfs, pos):
    """Move one tf unit between neighbors: value counts still match,
    but two postings' npos no longer equal their tfs."""
    from tests.index_reference import encode_varints

    t = decode_varints(tfs).astype(np.int64)
    i = int(np.flatnonzero(t[1:] >= 2)[0]) + 1
    t[i - 1] += 1
    t[i] -= 1
    return encode_varints(t.astype(np.uint64)), pos


@pytest.mark.parametrize("corrupt", [_corrupt_truncated, _corrupt_npos])
def test_compact_rejects_corrupt_block(spark, tmp_path, corrupt):
    """A block whose positions blob is cut short, or whose npos differ
    from its tfs, stops compaction with an error naming the block, and
    postings/ is left as it was.  Queries on the block's term and deep
    validation reject the same block through the same decoder."""
    import os
    import re

    import pyarrow.parquet as pq

    from pg_cjk_parser_spark.index.build import build_index
    from pg_cjk_parser_spark.index.compact import compact_index
    from pg_cjk_parser_spark.index.validate import validate_index
    from pg_cjk_parser_spark.kernel.tokenizer import lexemes
    from pg_cjk_parser_spark.query.topk import (
        search,
        search_local,
        search_many,
    )
    from pg_cjk_parser_spark.spark.corpus import synth_corpus

    idx = str(tmp_path / "idx")
    build_index(
        spark, synth_corpus(spark, 120, seed=3, num_partitions=2), idx,
        num_buckets=4, num_salts=2, block_size=16,
    )
    pdir = os.path.join(idx, "postings")
    path = next(
        os.path.join(r, f)
        for r, _, fs in sorted(os.walk(pdir))
        for f in sorted(fs)
        if f.endswith(".parquet")
    )
    t = pq.read_table(path)
    tfs_col = t.column("tfs").to_pylist()
    # a block a plain query for its term reaches
    i = next(
        k for k, (n, tb, term) in enumerate(zip(
            t.column("n").to_pylist(), tfs_col, t.column("term").to_pylist()
        ))
        if n >= 2 and (decode_varints(tb)[1:] >= 2).any()
        and [lx for lx, _ in lexemes(term)] == [term]
    )
    pos_col = t.column("positions").to_pylist()
    tfs_col[i], pos_col[i] = corrupt(tfs_col[i], pos_col[i])
    for name, col in (("tfs", tfs_col), ("positions", pos_col)):
        t = t.set_column(
            t.schema.get_field_index(name), name, pa.array(col, pa.binary())
        )
    pq.write_table(t, path)
    bucket = int(re.search(r"bucket=(\d+)", path).group(1))
    salt, term = t.column("salt")[i].as_py(), t.column("term")[i].as_py()

    def snapshot():
        return sorted(
            (os.path.relpath(os.path.join(r, f), pdir), os.stat(os.path.join(r, f)).st_mtime_ns)
            for r, _, fs in os.walk(pdir)
            for f in fs
        )

    before = snapshot()
    want = f"corrupt posting block bucket={bucket} salt={salt} term={term!r}"
    with pytest.raises(Exception, match=re.escape(want)):
        compact_index(spark, idx)
    assert snapshot() == before

    # the query path reads bucket dirs as file lists: it names the
    # block by salt and term
    named = f"corrupt posting block salt={salt} term={term!r}"
    with pytest.raises(ValueError, match=re.escape(named)):
        search_local(idx, term)
    with pytest.raises(Exception, match=re.escape(named)):
        search(spark, idx, term).collect()
    # a batch runs its job when called, so the call itself raises
    with pytest.raises(Exception, match=re.escape(named)):
        search_many(spark, idx, [term])
    rep = validate_index(idx, deep=True, sample_blocks=1 << 30)
    assert not rep["ok"]
    assert any(want in e for e in rep["errors"]), rep["errors"]
