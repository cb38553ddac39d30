import numpy as np

from pg_cjk_parser_spark.index.codec import decode_varints
from tests.index_reference import (
    decode_positions,
    delta_decode,
    delta_encode,
    encode_positions,
    encode_varints,
    encoded_blocks,
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


def test_one_block_decoder():
    """``decode_varints`` is called only inside index/codec.py: the
    library has one block decoder, and a second copy fails here."""
    import ast
    import pathlib

    import pg_cjk_parser_spark

    root = pathlib.Path(pg_cjk_parser_spark.__file__).parent
    callers = set()
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(
                    f, "attr", None
                )
                if name == "decode_varints":
                    callers.add(path.relative_to(root).as_posix())
    assert callers == {"index/codec.py"}


def test_positions_roundtrip():
    lists = [[1, 5, 9], [], [2], [100, 200, 300, 16383]]
    out = decode_positions(encode_positions(lists), len(lists))
    assert out == lists


def _random_posting_rows(rng, n_terms, max_post):
    """Random postings sorted by (bucket, salt, term, docid), each with
    its position list and that list's encoded blob."""
    import pandas as pd

    rows = []
    for ti in range(n_terms):
        b, s = rng.randrange(4), rng.randrange(2)
        term = f"t{ti:03d}"
        docids = sorted(
            rng.sample(range(-(10**12), 10**12), rng.randrange(1, max(2, max_post)))
        )
        for d in docids:
            ps = sorted(rng.sample(range(1, 3000), rng.randrange(1, 9)))
            rows.append(
                (b, s, term, d, len(ps), rng.randrange(1, 400), ps,
                 encode_positions([ps]))
            )
    rows.sort(key=lambda r: (r[0], r[1], r[2], r[3]))
    return pd.DataFrame(
        rows,
        columns=["bucket", "salt", "term", "docid", "tf", "doclen", "plist",
                 "positions"],
    )


def _pack_rows(df, chunks_of):
    """One packed-cell frame from posting rows: each (bucket, salt)
    cell's postings, shuffled, split into payloads by ``chunks_of(i)``
    (the payload index of the cell's i-th posting)."""
    import pandas as pd

    from tests.index_reference import pack_cell

    cells = {}
    shuffled = df.sample(frac=1.0, random_state=7)
    for i, r in enumerate(shuffled.itertuples(index=False)):
        c = cells.setdefault((r.bucket, r.salt, chunks_of(i)), ([], [], [], [], []))
        c[0].append(r.term.encode())
        c[1].append(r.docid)
        c[2].append(r.tf)
        c[3].append(r.doclen)
        c[4].append(r.positions)
    return pd.DataFrame(
        [(b, s, pack_cell(*c)) for (b, s, _), c in sorted(cells.items())],
        columns=["bucket", "salt", "payload"],
    )


def _arrow_batches(frames):
    """pandas cell frames -> the Arrow batches mapInArrow feeds."""
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
        pos = decode_positions(r.positions, r.n)
        for d_, t_, l_, p_ in zip(ds.tolist(), tfs.tolist(), dls.tolist(), pos):
            rec.append((r.bucket, r.salt, r.term, d_, t_, l_, p_))
    return rec


def _reference_blocks(df, bs):
    """Per-group reference block encoder: each (bucket, salt, term)
    group's docid-sorted postings cut into blocks of ``bs``, each
    column encoded with the plain codec functions."""
    import pandas as pd

    out = []
    for (b, s, term), g in df.groupby(["bucket", "salt", "term"], sort=True):
        g = g.sort_values("docid")
        for bid, i in enumerate(range(0, len(g), bs)):
            blk = g.iloc[i:i + bs]
            d = blk["docid"].to_numpy(np.int64)
            t = blk["tf"].to_numpy(np.int64)
            dl = blk["doclen"].to_numpy(np.int64)
            out.append(
                (b, s, term, bid, len(blk), d[0], d[-1], delta_encode(d),
                 encode_varints(t.astype(np.uint64)),
                 encode_varints(dl.astype(np.uint64)),
                 encode_positions(list(blk["plist"])), t.max(), dl.min(),
                 t.sum())
            )
    return pd.DataFrame(
        out,
        columns=["bucket", "salt", "term", "block_id", "n", "min_docid",
                 "max_docid", "docids", "tfs", "doclens", "positions",
                 "max_tf", "min_dl", "sum_tf"],
    )


def test_encode_partition_roundtrip_any_batching():
    """Packed-cell block encoder == source postings however a cell's
    postings are split into payloads: one payload per cell, 3, or one
    per posting; block ids run 0.. per (bucket, salt, term)."""
    import random

    rng = random.Random(11)
    cols = ["bucket", "salt", "term", "docid", "tf", "doclen", "plist"]
    for nt, mp, bs in [(30, 300, 128), (120, 8, 16), (2, 900, 64), (1, 2, 4)]:
        df = _random_posting_rows(rng, nt, mp)
        want = sorted(tuple(x) for x in df[cols].itertuples(index=False))
        for chunks_of in (lambda i: 0, lambda i: i % 3, lambda i: i):
            cells = _pack_rows(df, chunks_of)
            out = _blocks_frame(encoded_blocks(_arrow_batches([cells]), bs))
            assert sorted(_decode_block_rows(out)) == want
            gb = out.groupby(["bucket", "salt", "term"])["block_id"].apply(
                lambda s_: sorted(s_) == list(range(len(s_)))
            )
            assert gb.all()


def test_encode_cells_matches_row_encoder():
    """Packed-cell reducer produces the same blocks as a per-group
    reference block encoder for the same postings."""
    import random

    rng = random.Random(23)
    df = _random_posting_rows(rng, 60, 120)
    ref = _reference_blocks(df, 32)
    # packed path: split postings into 3 arbitrary map chunks per cell
    cells = _pack_rows(df, lambda i: rng.randrange(3))
    cell_out = _blocks_frame(encoded_blocks(_arrow_batches([cells]), 32))
    key = ["bucket", "salt", "term", "block_id"]
    a = ref.sort_values(key, ignore_index=True)
    c = cell_out.sort_values(key, ignore_index=True)
    assert list(a.columns) == list(c.columns)
    for col in a.columns:
        assert a[col].tolist() == c[col].tolist(), col
