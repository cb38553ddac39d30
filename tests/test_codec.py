import numpy as np

from pg_cjk_parser_spark.index.codec import (
    decode_positions,
    decode_varints,
    delta_decode,
    delta_encode,
    encode_positions,
    encode_varints,
)


def test_varint_roundtrip():
    rng = np.random.default_rng(42)
    for size in (0, 1, 7, 128, 5000):
        a = rng.integers(0, 1 << 62, size=size, dtype=np.uint64)
        a[: size // 3] = rng.integers(0, 128, size=size // 3)  # small values
        got = decode_varints(encode_varints(a))
        assert np.array_equal(got, a)


def test_varint_extremes():
    a = np.array([0, 1, 127, 128, (1 << 64) - 1, 1 << 63], dtype=np.uint64)
    assert np.array_equal(decode_varints(encode_varints(a)), a)


def test_delta_roundtrip_signed_docids():
    # xxhash64 docids are signed; sorted-signed order wraps in uint64
    d = np.sort(np.array([-(1 << 62), -5, -1, 0, 3, 1 << 61], dtype=np.int64))
    got = delta_decode(delta_encode(d)).view(np.int64)
    assert np.array_equal(got, d)


def test_positions_roundtrip():
    lists = [[1, 5, 9], [], [2], [100, 200, 300, 16383]]
    out = decode_positions(encode_positions(lists), len(lists))
    assert out == lists


def _random_posting_rows(rng, n_terms, max_post):
    import pandas as pd

    rows = []
    for ti in range(n_terms):
        b, s = rng.randrange(4), rng.randrange(2)
        term = f"t{ti:03d}"
        docids = sorted(
            rng.sample(range(-(10**12), 10**12), rng.randrange(1, max(2, max_post)))
        )
        for d in docids:
            rows.append(
                (b, s, term, d, rng.randrange(1, 9), rng.randrange(1, 400),
                 bytes([rng.randrange(1, 5)]))
            )
    rows.sort(key=lambda r: (r[0], r[1], r[2], r[3]))
    return pd.DataFrame(
        rows,
        columns=["bucket", "salt", "term", "docid", "tf", "doclen", "positions"],
    )


def _arrow_batches(frames):
    """pandas posting/cell frames -> the Arrow batches mapInArrow feeds."""
    import pyarrow as pa

    return iter([pa.RecordBatch.from_pandas(f, preserve_index=False) for f in frames])


def _blocks_frame(batches):
    """An encoder's Arrow block batches -> one pandas frame."""
    import pyarrow as pa

    return pa.Table.from_batches(list(batches)).to_pandas()


def _decode_block_rows(out):
    rec = []
    for r in out.itertuples(index=False):
        ds = delta_decode(r.docids).view(np.int64)
        tfs = decode_varints(r.tfs).view(np.int64)
        dls = decode_varints(r.doclens).view(np.int64)
        assert r.n == len(ds) == len(tfs) == len(dls)
        assert r.min_docid == ds[0] and r.max_docid == ds[-1]
        assert r.max_tf == tfs.max() and r.min_dl == dls.min()
        assert r.sum_tf == tfs.sum()
        for d_, t_, l_ in zip(ds.tolist(), tfs.tolist(), dls.tolist()):
            rec.append((r.bucket, r.salt, r.term, d_, t_, l_))
    return rec


def test_encode_partition_roundtrip_any_batching():
    """Batch-vectorized block encoder == source postings, for every
    batch split (incl. 1-row batches exercising the carry path)."""
    import random

    from pg_cjk_parser_spark.index.build import _encode_partition

    rng = random.Random(11)
    for nt, mp, bs in [(30, 300, 128), (120, 8, 16), (2, 900, 64), (1, 2, 4)]:
        df = _random_posting_rows(rng, nt, mp)
        want = sorted(
            tuple(x)
            for x in df[
                ["bucket", "salt", "term", "docid", "tf", "doclen"]
            ].itertuples(index=False)
        )
        for chunk in (len(df), 333, 13):
            batches = [df.iloc[i:i + chunk] for i in range(0, len(df), chunk)]
            out = _blocks_frame(_encode_partition(_arrow_batches(batches), bs))
            assert sorted(_decode_block_rows(out)) == want
            gb = out.groupby(["bucket", "salt", "term"])["block_id"].apply(
                lambda s_: sorted(s_) == list(range(len(s_)))
            )
            assert gb.all()


def test_encode_cells_matches_row_encoder():
    """Packed-cell reducer produces the same blocks as the row-sorted
    encoder for the same postings."""
    import random

    import pandas as pd

    from pg_cjk_parser_spark.index.build import (
        _encode_cells,
        _encode_partition,
        _pack_cell,
    )

    rng = random.Random(23)
    df = _random_posting_rows(rng, 60, 120)
    # rows path
    row_out = _blocks_frame(_encode_partition(_arrow_batches([df]), 32))
    # packed path: split postings into 3 arbitrary map chunks per cell
    cells = {}
    for r in df.sample(frac=1.0, random_state=7).itertuples(index=False):
        chunk = rng.randrange(3)
        c = cells.setdefault((r.bucket, r.salt, chunk), ([], [], [], [], []))
        c[0].append(r.term.encode())
        c[1].append(r.docid)
        c[2].append(r.tf)
        c[3].append(r.doclen)
        c[4].append(r.positions)
    rows = [
        (b, s, _pack_cell(*c)) for (b, s, _), c in sorted(cells.items())
    ]
    pdf = pd.DataFrame(rows, columns=["bucket", "salt", "payload"])
    cell_out = _blocks_frame(_encode_cells(_arrow_batches([pdf]), 32))
    key = ["bucket", "salt", "term", "block_id"]
    a = row_out.sort_values(key, ignore_index=True)
    c = cell_out.sort_values(key, ignore_index=True)
    assert a[key + ["n", "min_docid", "max_docid", "max_tf", "min_dl", "sum_tf"]].equals(
        c[key + ["n", "min_docid", "max_docid", "max_tf", "min_dl", "sum_tf"]]
    )
    for col in ("docids", "tfs", "doclens", "positions"):
        assert (a[col] == c[col]).all(), col
