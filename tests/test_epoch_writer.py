"""The epoch writers (streaming._write_epoch, nested, and
streaming._write_flat_epoch, flat): their tasks write every file
themselves, with pyarrow - a nested epoch's bucket-keyed tasks one
postings file per cell and one termstats file per bucket, a flat
epoch's one task (small appends) one postings and one termstats file
- named by cell, bucket or epoch and landed by atomic renames, so a
retried task rewrites identical bytes, an earlier attempt's files do
not survive, and every reader - the Spark read of compaction and the
pyarrow read of queries - gets exactly the encoder's rows."""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from pg_cjk_parser_spark.index import streaming
from pg_cjk_parser_spark.index.build import PACKED_SCHEMA, _packed_postings_gen
from pg_cjk_parser_spark.index.codec import BLOCK_COLS
from pg_cjk_parser_spark.index.compact import _read_epochs
from pg_cjk_parser_spark.index.tombstones import epoch_dir_layout
from pg_cjk_parser_spark.query.topk import _BLOCK_COLUMNS, _read_blocks_local
from tests.index_reference import encoded_blocks

B, S, BS = 4, 2, 16


@pytest.fixture(scope="module")
def packed():
    """Packed (bucket, salt) cell batches of a 300-doc corpus, as the
    tokenizer pass hands them to the cell exchange."""
    from pg_cjk_parser_spark.spark.corpus import _doc_fields

    pdf = pd.DataFrame(
        {
            "docid": np.arange(300, dtype=np.int64) * 3 + 1,
            "text": [_doc_fields(i, 5)[0] for i in range(300)],
        }
    )
    return [
        pa.RecordBatch.from_pandas(f, preserve_index=False)
        for f in _packed_postings_gen(iter([pdf]), B, S)
    ]


@pytest.fixture(scope="module")
def blocks(packed):
    """The encoder's block rows for ``packed``."""
    return pa.Table.from_batches(list(encoded_blocks(iter(packed), BS)))


def _files(d):
    """``{relative path: bytes}`` of every file under ``d``."""
    out = {}
    for dp, _, names in os.walk(d):
        for n in names:
            with open(os.path.join(dp, n), "rb") as f:
                out[os.path.relpath(os.path.join(dp, n), d)] = f.read()
    return out


def _rows(tbl, cols):
    return sorted(zip(*(tbl.column(c).to_pylist() for c in cols)))


def _per_term(blocks):
    """The blocks' ``(bucket, term, df, cf)`` sums, sorted."""
    agg = blocks.group_by(["bucket", "term"]).aggregate(
        [("n", "sum"), ("sum_tf", "sum")]
    )
    return _rows(agg, ["bucket", "term", "n_sum", "sum_tf_sum"])


def test_retried_encode_task_rewrites_identical_files(packed, blocks, tmp_path):
    """Running the writer task body twice over the same packed cells,
    as a task retry does, leaves byte-identical postings and termstats
    files under the same names and no temp file, in both layouts, and
    yields totals equal to the blocks' sums.  A nested epoch gets a
    postings file per cell and a termstats file per bucket, a flat one
    ``part-00000.parquet`` postings holding the blocks in one row group
    and termstats with a bucket column; in both the termstats rows are
    the blocks' per-term sums in (bucket, term) order."""
    for flat in (False, True):
        _retry_writer_task(packed, blocks, tmp_path / str(flat), flat)


def _retry_writer_task(packed, blocks, tmp_path, flat):
    pdir, tdir = str(tmp_path / "postings"), str(tmp_path / "termstats")
    layout = streaming._flat_files if flat else streaming._nested_files

    def run():
        return pa.Table.from_batches(
            list(streaming._write_cells(iter(packed), BS, layout(pdir, tdir)))
        )

    first = run()
    files = _files(str(tmp_path))
    again = run()
    assert _files(str(tmp_path)) == files
    assert first.equals(again)
    assert not [n for n in files if os.path.basename(n).startswith(".")]
    if flat:
        assert sorted(files) == [
            os.path.join(sub, "part-00000.parquet")
            for sub in ("postings", "termstats")
        ]
        postings = pq.ParquetFile(os.path.join(pdir, "part-00000.parquet"))
        assert postings.read().equals(blocks)
        # the cells share one row group: readers pay per row group
        assert postings.num_row_groups == 1 < len(set(zip(
            blocks["bucket"].to_pylist(), blocks["salt"].to_pylist()
        )))
        stats = pq.read_table(os.path.join(tdir, "part-00000.parquet"))
        assert stats.schema == streaming._TERMSTATS_SCHEMA
        rows = list(zip(*(stats.column(c).to_pylist() for c in stats.column_names)))
    else:
        cells = set(zip(blocks["bucket"].to_pylist(), blocks["salt"].to_pylist()))
        buckets = sorted({b for b, _ in cells})
        assert sorted(files) == sorted(
            [
                os.path.join("postings", f"bucket={b}", f"part-s{s}.parquet")
                for b, s in cells
            ] + [
                os.path.join("termstats", f"bucket={b}", "part-00000.parquet")
                for b in buckets
            ]
        )
        rows = []
        for b in buckets:
            stats = pq.read_table(
                os.path.join(tdir, f"bucket={b}", "part-00000.parquet")
            )
            assert stats.schema == streaming._TERMSTATS_FILE_SCHEMA
            rows += [(b, *r.values()) for r in stats.to_pylist()]
    assert rows == _per_term(blocks)
    assert [pc.sum(first[c]).as_py() for c in first.column_names] == [
        pc.sum(blocks["sum_tf"]).as_py(), pc.sum(blocks["n"]).as_py(), len(rows)
    ]


def test_epoch_write_replaces_stale_files_and_reads_back(
    spark, packed, blocks, tmp_path
):
    """In both layouts, stale files an earlier attempt left in the
    epoch's dirs - the nested layout's bucket dirs, a Spark file
    commit's part file and _SUCCESS - are gone after the write, an
    empty epoch writes no file and returns (0, 0, 0), the written dirs
    take the writer's layout, and compaction's Spark read and the
    query's pyarrow read both return exactly the encoder's rows."""
    for flat in (False, True):
        _write_over_stale_files(spark, packed, blocks, tmp_path / str(flat), flat)


def _write_over_stale_files(spark, packed, blocks, tmp_path, flat):
    idx = str(tmp_path / "idx")
    pdir, tdir = streaming._epoch_dirs(idx, 0)
    stale = [
        os.path.join(pdir, "bucket=0", "part-00007-stale.c000.snappy.parquet"),
        os.path.join(pdir, "part-00000-stale.c000.snappy.parquet"),
        os.path.join(pdir, "_SUCCESS"),
        os.path.join(tdir, "bucket=9", "part-00000.parquet"),
        os.path.join(tdir, "part-00001.parquet"),
    ]

    def plant():
        for p in stale:
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "wb") as f:
                f.write(b"stale")

    def write(cells):
        if flat:
            return streaming._write_flat_epoch(cells, pdir, tdir, BS)
        return streaming._write_epoch(spark, cells, pdir, tdir, B, BS)

    plant()
    assert write(spark.createDataFrame([], PACKED_SCHEMA)) == (0, 0, 0)
    assert not any(map(os.path.exists, stale))
    assert epoch_dir_layout(pdir) is None and epoch_dir_layout(tdir) is None

    plant()
    cells = spark.createDataFrame(
        [
            (b, s, p)
            for rb in packed
            for b, s, p in zip(*(rb.column(i).to_pylist() for i in range(3)))
        ],
        PACKED_SCHEMA,
    )
    totals = write(cells)
    assert not any(map(os.path.exists, stale))
    n_terms = len(set(zip(blocks["bucket"].to_pylist(), blocks["term"].to_pylist())))
    assert totals == (
        pc.sum(blocks["sum_tf"]).as_py(), pc.sum(blocks["n"]).as_py(), n_terms
    )
    assert not [n for n in _files(idx) if os.path.basename(n).startswith(".")]
    layout = "flat" if flat else "nested"
    assert epoch_dir_layout(pdir) == epoch_dir_layout(tdir) == layout
    if flat:
        assert os.listdir(pdir) == os.listdir(tdir) == ["part-00000.parquet"]

    spark_rows = sorted(
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
        for r in _read_epochs(spark, idx, {0: 0}).select(*BLOCK_COLS).collect()
    )
    assert spark_rows == _rows(blocks, BLOCK_COLS)
    paths = [os.path.join(pdir, f"bucket={b}") for b in range(B)]
    local = _read_blocks_local(
        [pdir] if flat else [p for p in paths if os.path.isdir(p)],
        blocks["term"].unique().to_pylist(), with_epoch=False,
    )
    assert _rows(local, _BLOCK_COLUMNS) == _rows(blocks, _BLOCK_COLUMNS)
