"""The nested-epoch writer (streaming._write_epoch): its encode tasks
write each cell's blocks and its termstats tasks each bucket's
termstats as Parquet files of their own, named by cell or bucket and
landed by atomic renames, so a retried task rewrites identical bytes,
an earlier attempt's files do not survive, and every reader - the
Spark read of compaction and the pyarrow read of queries - gets
exactly the encoder's rows."""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from pg_cjk_parser_spark.index import streaming
from pg_cjk_parser_spark.index.build import (
    PACKED_SCHEMA,
    _encode_cells,
    _packed_postings_gen,
)
from pg_cjk_parser_spark.index.codec import BLOCK_COLS
from pg_cjk_parser_spark.index.compact import _read_epochs
from pg_cjk_parser_spark.index.tombstones import epoch_dir_layout
from pg_cjk_parser_spark.query.topk import _BLOCK_COLUMNS, _read_blocks_local

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
    return pa.Table.from_batches(list(_encode_cells(iter(packed), BS)))


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


def test_retried_encode_task_rewrites_identical_files(packed, blocks, tmp_path):
    """Running the encode-and-write task body twice over the same
    packed cells, as a task retry does, leaves byte-identical files
    under the same per-cell names and no temp file; its termstats
    rows are the blocks' per-term sums."""
    pdir = str(tmp_path / "postings")
    first = pa.Table.from_batches(list(streaming._write_cells(iter(packed), pdir, BS)))
    files = _files(pdir)
    again = pa.Table.from_batches(list(streaming._write_cells(iter(packed), pdir, BS)))
    assert _files(pdir) == files
    assert first.equals(again)
    cells = set(zip(blocks["bucket"].to_pylist(), blocks["salt"].to_pylist()))
    assert sorted(files) == sorted(
        f"bucket={b}/part-s{s}.parquet" for b, s in cells
    )
    per_term = (
        blocks.group_by(["bucket", "term"])
        .aggregate([("n", "sum"), ("sum_tf", "sum")])
    )
    got = (
        first.group_by(["bucket", "term"])
        .aggregate([("df", "sum"), ("cf", "sum")])
    )
    assert _rows(got, ["bucket", "term", "df_sum", "cf_sum"]) == _rows(
        per_term, ["bucket", "term", "n_sum", "sum_tf_sum"]
    )


def test_epoch_write_replaces_stale_files_and_reads_back(
    spark, packed, blocks, tmp_path
):
    """A stale file an earlier attempt left in the epoch's dirs is gone
    after the write, an empty epoch writes no file and returns
    (0, 0, 0), and compaction's Spark read and the query's pyarrow
    read both return exactly the encoder's rows."""
    idx = str(tmp_path / "idx")
    pdir, tdir = streaming._epoch_dirs(idx, 0)
    stale = [
        os.path.join(pdir, "bucket=0", "part-00007-stale.c000.snappy.parquet"),
        os.path.join(tdir, "bucket=9", "part-00000.parquet"),
    ]
    for p in stale:
        os.makedirs(os.path.dirname(p))
        with open(p, "wb") as f:
            f.write(b"stale")
    empty = spark.createDataFrame([], PACKED_SCHEMA)
    assert streaming._write_epoch(spark, empty, pdir, tdir, B, S, BS) == (0, 0, 0)
    assert not any(map(os.path.exists, stale))
    assert epoch_dir_layout(pdir) is None and epoch_dir_layout(tdir) is None

    for p in stale:
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(b"stale")
    cells = spark.createDataFrame(
        [
            (b, s, p)
            for rb in packed
            for b, s, p in zip(*(rb.column(i).to_pylist() for i in range(3)))
        ],
        PACKED_SCHEMA,
    )
    totals = streaming._write_epoch(spark, cells, pdir, tdir, B, S, BS)
    assert not any(map(os.path.exists, stale))
    n_terms = len(set(zip(blocks["bucket"].to_pylist(), blocks["term"].to_pylist())))
    assert totals == (
        pc.sum(blocks["sum_tf"]).as_py(), pc.sum(blocks["n"]).as_py(), n_terms
    )
    assert not [n for n in _files(idx) if os.path.basename(n).startswith(".")]

    spark_rows = sorted(
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
        for r in _read_epochs(spark, idx, {0: 0}).select(*BLOCK_COLS).collect()
    )
    assert spark_rows == _rows(blocks, BLOCK_COLS)
    paths = [os.path.join(pdir, f"bucket={b}") for b in range(B)]
    local = _read_blocks_local(
        [p for p in paths if os.path.isdir(p)],
        blocks["term"].unique().to_pylist(), with_epoch=False,
    )
    assert _rows(local, _BLOCK_COLUMNS) == _rows(blocks, _BLOCK_COLUMNS)
