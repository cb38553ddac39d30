"""Word n-grams of whole Arrow batches, for the dedup operators.

``repetition_signals`` (ops/textstats.py) and ``duplicate_spans``
(ops/dedup.py) both look at every run of ``n`` consecutive words of
every document.  Spark's higher-order functions (``transform`` and
``aggregate`` over a per-doc array) evaluate such runs one element at
a time through interpreted lambdas; here one Arrow pass splits a
batch of documents and handles the runs of all of them as numpy
arrays:

* words: ``pc.split_pattern(text, " ")`` has the semantics of Spark's
  ``split(text, ' ')`` (limit -1: leading, trailing and doubled
  spaces make empty words, and they count); a null text has no
  words;
* n-gram identity: ``dictionary_encode`` gives each word a code, and
  ranking (doc, code tuple) keys one word at a time gives each
  (doc, n-gram) an exact id - nothing is hashed, nothing can collide;
* span hashes: Spark's ``xxhash64`` of a k-word array is k chained
  XXH64 passes (index/xxh64.py), one vectorized pass per word.

Both emit only integers: ``repetition_signals`` calls
:func:`repetition_counts` as a scalar Arrow UDF (one struct per doc,
so a ``count()`` of its result prunes the pass), ``duplicate_spans``
calls :func:`span_hashes` through ``mapInArrow`` (a doc yields many
rows).  The filters, windows, aggregates, rounding and order around
them stay in the JVM.  The functions live
in the package so the Python worker imports it (and with it the zip
guard of spark/worker_env.py) to unpickle them.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..index.codec import _binary_parts
from ..index.xxh64 import spark_xxhash64_str_vec


def _split(text):
    """Words of a text array: ``(nw, words, doc, left)`` - per doc its
    word count (0 for a null text), all words in order as one flat
    string array, and per word its doc (index into ``text``) and
    ``left``, the number of words from it to its doc's end."""
    lists = pc.split_pattern(text, " ")
    nw = pc.list_value_length(lists).fill_null(0).to_numpy().astype(np.int64)
    words = pc.list_flatten(lists)
    doc = np.repeat(np.arange(nw.size), nw)
    ends = np.cumsum(nw)
    left = ends[doc] - np.arange(ends[-1] if nw.size else 0)
    return nw, words, doc, left


def _per_doc(doc_of_gram, counts, ndocs):
    """(distinct grams, count of the most frequent gram) per doc from
    the grams' docs (ascending) and occurrence counts."""
    nd = np.bincount(doc_of_gram, minlength=ndocs)
    best = np.zeros(ndocs, np.int64)
    if doc_of_gram.size:
        first = np.flatnonzero(np.diff(doc_of_gram, prepend=-1))
        best[doc_of_gram[first]] = np.maximum.reduceat(counts, first)
    return nd, best


def repetition_counts(text, ns):
    """Scalar Arrow UDF body of ``repetition_signals``: per doc of
    ``text`` a struct ``(nw, nd{n}, best{n} for n in ns)`` - its word
    count and, per n, its number of distinct word n-grams and the
    occurrence count of its most frequent one (both 0 for a doc
    shorter than n words).

    Level n ranks the key ``(id of the (doc, n-1)-gram at p) * V +
    code of word p + n - 1`` over every position p that starts an
    n-gram, starting from ``doc * V + code``: one sort per level, and
    the ranks come out in (doc, gram) order, so each level's ranks
    and their counts give the per-doc figures directly."""
    nw, words, doc, left = _split(text)
    enc = pc.dictionary_encode(words)
    codes = enc.indices.to_numpy().astype(np.int64)
    vocab = len(enc.dictionary)
    cols, names = [nw], ["nw"]
    pos = np.arange(codes.size)
    ids = doc
    for n in range(1, max(ns) + 1):
        keep = left[pos] >= n
        pos = pos[keep]
        ids = np.unique(ids[keep] * vocab + codes[pos + n - 1], return_inverse=True)[1]
        if n in ns:
            counts = np.bincount(ids)
            doc_of_gram = np.empty(counts.size, np.int64)
            doc_of_gram[ids] = doc[pos]
            cols += _per_doc(doc_of_gram, counts, nw.size)
            names += [f"nd{n}", f"best{n}"]
    return pa.StructArray.from_arrays(
        [pa.array(c.astype(np.int32)) for c in cols], names=names
    )


def span_hashes(batches, k, names):
    """``mapInArrow`` body of ``duplicate_spans``: one ``(id, h)`` row
    per distinct hash ``h`` of a doc's k-word spans, where ``h`` is
    Spark's ``xxhash64(slice(split(text, ' '), i, k))``: XXH64 of the
    first word seeded with 42, each next word seeded with the hash so
    far.  Distinct by hash within the doc, as ``array_distinct`` of
    the hashes is."""
    for rb in batches:
        _, words, doc, left = _split(rb.column(1))
        pos = np.flatnonzero(left >= k)
        h = np.full(pos.size, 42, np.int64)
        for j in range(k):
            part = _binary_parts(words.take(pa.array(pos + j)))
            h = spark_xxhash64_str_vec(*part, seed=h)
        d = doc[pos]
        order = np.lexsort((h, d))
        d, h = d[order], h[order]
        new = np.ones(d.size, bool)
        new[1:] = (d[1:] != d[:-1]) | (h[1:] != h[:-1])
        d, h = d[new], h[new]
        yield pa.RecordBatch.from_arrays(
            [rb.column(0).take(pa.array(d)), pa.array(h)],
            names=names,
        )
