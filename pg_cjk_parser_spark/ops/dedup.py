"""Deduplication operators for large-scale training-data pipelines.

All operators are DataFrame-native and shuffle-conscious:

* exact dedup: hash-groupBy on the full text (one shuffle on a short
  digest, not the text itself).
* MinHash + LSH near-dup: per-doc signatures in one Arrow pass ->
  banded LSH buckets -> candidate pairs from bucket joins (only
  colliding docs shuffle) -> exact shingle-Jaccard verification of the
  (small) candidate set.
* SimHash: 64-bit near-dup fingerprint per doc, Hamming-bucket join.
* exact n-gram Jaccard: self-join on distinct n-grams; used as the
  verification oracle for the probabilistic paths.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..index.xxh64 import xxh64

# 31-bit Mersenne prime: with a, b, h < 2^31 the products stay under
# 2^62, so (a*h+b) % p is computed exactly in uint64 - a genuine
# universal hash family (a 61-bit prime would silently wrap mod 2^64
# first and lose pairwise independence)
_MERSENNE = (1 << 31) - 1


def _perm_params(n_hashes: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=n_hashes, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=n_hashes, dtype=np.int64)
    return a.astype(np.uint64), b.astype(np.uint64)


def exact_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_members: int = 100,
) -> DataFrame:
    """Duplicate groups by text digest: (text_md5, n_dups, keep_id,
    members).  ``members`` is capped at ``max_members`` smallest ids
    (``n_dups`` stays exact) - an unbounded collect_list would
    materialize one giant row for a 10M-way boilerplate duplicate
    class at corpus scale.  Pass ``max_members=0`` to drop the column
    entirely (ids recoverable by joining back on the digest)."""
    agg_cols = [
        F.count(F.lit(1)).alias("n_dups"),
        F.min(id_col).alias("keep_id"),
    ]
    if max_members:
        agg_cols.append(
            F.slice(
                F.sort_array(F.collect_list(id_col)), 1, max_members
            ).alias("members")
        )
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(*agg_cols)
        .where(F.col("n_dups") > 1)
    )


def shingles(text: str, k: int = 5) -> list[str]:
    words = text.split()
    if len(words) < k:
        return [" ".join(words)] if words else []
    return [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(id, sig: array<long>) MinHash signatures, one Arrow pass."""
    a, b = _perm_params(n_hashes, seed)

    def gen(batches):
        for pdf in batches:
            ids, sigs = [], []
            for i, t in zip(pdf[id_col].tolist(), pdf[text_col].tolist()):
                sh = shingles(t or "", shingle_k)
                if not sh:
                    sig = np.zeros(n_hashes, dtype=np.int64)
                else:
                    hv = np.fromiter(
                        (xxh64(s.encode("utf-8")) & _MERSENNE for s in sh),
                        dtype=np.uint64,
                        count=len(sh),
                    )
                    # (a*h + b) mod p, min over shingles (exact in uint64)
                    m = (hv[None, :] * a[:, None] + b[:, None]) % np.uint64(_MERSENNE)
                    sig = m.min(axis=1).astype(np.int64)
                ids.append(i)
                sigs.append(sig)
            yield pd.DataFrame({"id": ids, "sig": sigs})

    return docs.select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
    ).mapInPandas(gen, "id long, sig array<long>")


def _banded_buckets(
    sigs: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, bucket) rows: each signature sliced into ``bands``
    band keys, each hashed (with the band index as salt) to a bucket."""
    return sigs.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.slice(
                    "sig", i * rows_per_band + 1, rows_per_band
                ),
            )
        ).alias("band", "key"),
    ).select(
        "id",
        "band",
        F.xxhash64(F.col("key").cast("string"), "band").alias("bucket"),
    )


def lsh_hot_buckets(
    sigs: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """(band, bucket, n) for every bucket ``lsh_candidate_pairs`` would
    drop under the same arguments - the observability companion to the
    hot-bucket cap.  An empty result means no truncation occurred; a
    non-empty one tells the caller exactly how many members each
    dropped bucket had, so capped recall is auditable rather than
    silent."""
    banded = _banded_buckets(sigs, bands, rows_per_band)
    counts = banded.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    if max_bucket_size is None:
        return counts.where(F.lit(False))
    return counts.where(F.col("n") > max_bucket_size)


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from banded LSH buckets.

    Buckets larger than ``max_bucket_size`` are dropped before the
    self-join: a degenerate hot bucket (e.g. every empty/boilerplate
    doc shares the all-zeros signature in every band) makes the join
    quadratic in bucket size.  NOTE the recall contract precisely:
    a doc dropped from one hot bucket still pairs through any of its
    other, *non-hot* bands, but a cluster of >max_bucket_size
    byte-identical docs is hot in EVERY band, so its pairs vanish
    from this candidate set entirely.  That is by design - exact
    duplicates are the exact-dedup path's job (hash groupBy is
    O(cluster), this join would be O(cluster^2)) - run
    ``exact_duplicates`` alongside when such clusters may exist.
    Truncation is observable, not silent: ``lsh_hot_buckets`` with
    the same arguments returns the dropped (band, bucket, n) list.
    Pass ``max_bucket_size=None`` to disable the cap."""
    banded = _banded_buckets(sigs, bands, rows_per_band)
    if max_bucket_size is not None:
        # map-side-combinable count, then a broadcast anti-join against
        # the (tiny) hot-bucket list; no window/sort over the full set
        hot = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > max_bucket_size)
            .select("band", "bucket")
        )
        banded = banded.join(
            F.broadcast(hot), ["band", "bucket"], "left_anti"
        )
    l = banded.alias("l")
    r = banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def verify_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs; keeps >= threshold."""
    grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(_shingle_col(text_col, shingle_k))
        ).alias("gram"),
    )
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    pg = pairs.join(grams.withColumnRenamed("id", "id_a"), "id_a")
    inter = (
        pg.join(
            grams.selectExpr("id as id_b", "gram"),
            ["id_b", "gram"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.selectExpr("id as id_a", "n as na"), "id_a")
        .join(sizes.selectExpr("id as id_b", "n as nb"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _shingle_col(text_col: str, k: int):
    """k-word shingles as a Spark column (JVM-side, no Python)."""
    words = F.split(F.col(text_col), " ")
    n = F.greatest(F.size(words) - (k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.array_join(F.slice(words, i + 1, k), " "),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact n-word-gram Jaccard for ALL pairs (use on filtered/small
    id ranges; the LSH path is the scale path)."""
    grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(_shingle_col(text_col, n))).alias("gram"),
    )
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    g2 = grams.selectExpr("id as id_b", "gram")
    inter = (
        grams.selectExpr("id as id_a", "gram")
        .join(g2, "gram")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.selectExpr("id as id_a", "sz as na"), "id_a")
        .join(sizes.selectExpr("id as id_b", "sz as nb"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") > min_jaccard)
    )


def simhash64(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash over word features: (id, simhash long)."""

    def gen(batches):
        for pdf in batches:
            ids, hashes = [], []
            for i, t in zip(pdf[id_col].tolist(), pdf[text_col].tolist()):
                words = (t or "").split()
                if not words:
                    ids.append(i)
                    hashes.append(0)
                    continue
                hv = np.fromiter(
                    (xxh64(w.encode("utf-8")) for w in words),
                    dtype=np.uint64,
                    count=len(words),
                )
                bits = (hv[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
                v = (2 * bits.astype(np.int64) - 1).sum(axis=0)
                sh = int(((v > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum())
                ids.append(i)
                hashes.append(sh - (1 << 64) if sh >= (1 << 63) else sh)
            yield pd.DataFrame({"id": ids, "simhash": np.array(hashes, dtype=np.int64)})

    return docs.select(id_col, text_col).mapInPandas(gen, "id long, simhash long")


def simhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int | None = None,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance: (id_a, id_b,
    hamming) with hamming <= ``max_hamming`` and id_a < id_b.

    Banded exact-candidate generation (Manku et al., WWW'07): the
    64-bit fingerprint is split into ``bands`` contiguous chunks
    (default ``max_hamming + 1``); by pigeonhole, any pair within
    ``max_hamming`` bit flips agrees exactly on at least one chunk, so
    the equi-join on (band, chunk value) is a COMPLETE candidate set -
    no probabilistic recall loss.  Candidates are then verified with
    an exact popcount on the XOR of fingerprints.  Everything after
    the one-Arrow-pass ``simhash64`` is JVM-side (shift/mask, equi-
    join, bit_count), and only colliding candidates shuffle.  Hot
    buckets (boilerplate clusters) are capped like the MinHash path.
    """
    if bands is None:
        bands = max_hamming + 1
    if bands < max_hamming + 1:
        raise ValueError(
            "bands must be >= max_hamming + 1 for a complete candidate set"
        )
    sigs = simhash64(docs, id_col, text_col)
    # band b covers bits [offsets[b], offsets[b+1]) of the fingerprint
    widths = [64 // bands + (1 if i < 64 % bands else 0) for i in range(bands)]
    offsets = [sum(widths[:i]) for i in range(bands)]

    def chunk(b: int):
        # logical right shift via shiftrightunsigned, then mask
        shifted = F.shiftrightunsigned(F.col("simhash"), offsets[b])
        mask = (1 << widths[b]) - 1
        return shifted.bitwiseAND(F.lit(mask))

    banded = sigs.select(
        "id",
        "simhash",
        F.posexplode(F.array(*[chunk(b) for b in range(bands)])).alias(
            "band", "chunk"
        ),
    )
    if max_bucket_size is not None:
        hot = (
            banded.groupBy("band", "chunk")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > max_bucket_size)
            .select("band", "chunk")
        )
        banded = banded.join(
            F.broadcast(hot), ["band", "chunk"], "left_anti"
        )
    l = banded.alias("l")
    r = banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def near_dup_clusters(
    pairs: DataFrame,
    max_iters: int = 25,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    ``(id, cluster, is_canonical)`` where ``cluster`` is the minimum
    doc id in the component and ``is_canonical`` marks the one kept
    doc per cluster - the standard decision step after MinHash/SimHash
    /embedding pair generation in a dedup pipeline.

    Algorithm: iterative hash-min label propagation.  Each round every
    node takes the min label across its neighbors (one shuffle join +
    one aggregation per round), converging in O(component diameter)
    rounds.  Near-dup graphs are overwhelmingly dense clique-ish
    clusters with tiny diameters, so a handful of rounds suffices; for
    pathological long-chain graphs the large-star/small-star variant
    (O(log n) rounds) would replace the body without changing the
    contract.  Scale properties: state is one (id, cluster) row per
    node, every round shuffles O(E) rows, and lineage is truncated
    with localCheckpoint every ``checkpoint_every`` rounds so plans
    don't grow with the iteration count.  Only ids that appear in at
    least one pair are returned (singletons are their own cluster
    trivially and never shuffle).
    """
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    edges = (
        edges.union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("id"), F.col("src").alias("cluster"))
    )
    for it in range(max_iters):
        prop = edges.join(
            labels, edges["dst"] == labels["id"]
        ).select(F.col("src").alias("id"), "cluster")
        new = (
            labels.union(prop)
            .groupBy("id")
            .agg(F.min("cluster").alias("cluster"))
        )
        if (it + 1) % checkpoint_every == 0 or it == max_iters - 1:
            new = new.localCheckpoint(eager=True)
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.cluster") != F.col("o.cluster"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(
        "id",
        "cluster",
        (F.col("id") == F.col("cluster")).cast("int").alias("is_canonical"),
    )


def span_hash_rows(
    docs: DataFrame, k: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(id, h)``: per doc, the distinct Spark ``xxhash64`` values of
    its k-word spans (:func:`ngrams.span_hashes`, one ``mapInArrow``
    pass); ``id`` keeps its input type."""
    from functools import partial

    from pyspark.sql.types import LongType, StructField, StructType

    from .ngrams import span_hashes

    inp = docs.select(F.col(id_col).alias(id_col), F.col(text_col))
    schema = StructType([inp.schema[0], StructField("h", LongType(), False)])
    return inp.mapInArrow(partial(span_hashes, k=k, names=[id_col, "h"]), schema)


def duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplication signal in the style of Lee et al.
    2022 ("Deduplicating Training Data Makes Language Models Better"):
    for each document, the number of distinct k-word spans that also
    occur verbatim in at least one other document - ``(id,
    n_dup_spans)``, rows only for docs with >= 1 shared span.  A
    training pipeline thresholds or span-masks on it where suffix
    arrays are the single-node tool.

    Scale shape: one ``mapInArrow`` pass (:func:`span_hash_rows`)
    splits each batch of docs into words, hashes every k-word span
    exactly as Spark's ``xxhash64(slice(split(text, ' '), i, k))``
    does (k chained vectorized XXH64 passes) and emits each doc's
    distinct ``(id, h)`` pairs - the text never travels past it, and
    a doc's duplicate spans, all inside its one row, are dropped
    before any exchange.  Then a window ``count(*) over (partition by
    h)`` marks shared spans.  The window formulation is deliberate:
    the naive groupBy-then-join-back reads the corpus and recomputes
    the spans TWICE (Catalyst does not dedupe common subtrees), while
    the window is one corpus scan and one shuffle of two-long rows.
    Hot boilerplate spans make one large window group of (doc, span)
    pairs - WindowExec spills beyond its buffer, and the group is the
    same size the join probe side would have been.  No self-join on
    docs, no all-pairs blowup.
    """
    from pyspark.sql import Window

    nd = F.count(F.lit(1)).over(Window.partitionBy("h"))
    return (
        span_hash_rows(docs, k, id_col, text_col)
        .withColumn("nd", nd)
        .where(F.col("nd") >= 2)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
        .orderBy(id_col)
    )
