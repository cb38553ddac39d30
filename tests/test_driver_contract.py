"""Mimic the driver's CORRECTNESS gate locally: run each queries()
entry on Spark and the matching oracle_sql() on DuckDB at sf0.01,
compare row count, column names, and order-insensitive values."""

import math
import os
import tempfile

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, bytes):
        return v.hex()
    return v


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_norm(r[i]) for i in idx) for r in rows
    )


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_vs_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]

    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        assert len(srows) >= 0
        return
    cur = ddb.execute(sql)
    dcols = [d[0].lower() for d in cur.description]
    drows = cur.fetchall()

    assert sorted(scols) == sorted(dcols), (scols, dcols)
    assert len(srows) == len(drows), (name, len(srows), len(drows))
    assert _rowset(scols, srows) == _rowset(dcols, drows), name


def test_driver_vocab_covers_all_sf_dirs():
    """The simhash oracles embed xxh64 constants for DRIVER_VOCAB; an
    unseen word would silently drop from the SQL's inner join.  Guard:
    the closed vocabulary must cover every sf dir's documents table."""
    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        p = f"/root/testdata/{sf}/documents.parquet"
        if not os.path.exists(p):
            continue
        words = {
            r[0]
            for r in con.execute(
                "SELECT DISTINCT t.w FROM read_parquet(?) d, "
                "unnest(string_split(d.text, ' ')) AS t(w) WHERE t.w <> ''",
                [p],
            ).fetchall()
        }
        missing = words - set(entry_mod.DRIVER_VOCAB)
        assert not missing, (sf, sorted(missing))


def test_entry_smoke(spark, tmp_path, monkeypatch):
    # entry() builds its index under tempfile.gettempdir(): point that at
    # this test's own directory so two suites running side by side do not
    # rebuild one shared index under each other
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"query", "rank", "docid", "score"} <= set(df.columns)
