"""Text-analysis operators: language id, quality signals, token
counting, fingerprinting.  JVM-side Spark SQL where possible; Arrow
pandas UDFs (never per-row Python UDFs) where the kernel is needed."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

# script ranges for the n-gram-free language heuristic
_SCRIPTS = (
    ("hangul", ((0xAC00, 0xD7A3), (0x1100, 0x11FF), (0x3130, 0x318F))),
    ("kana", ((0x3040, 0x30FF), (0x31F0, 0x31FF))),
    ("han", ((0x4E00, 0x9FFF), (0x3400, 0x4DBF))),
    ("cyrillic", ((0x0400, 0x04FF),)),
    ("greek", ((0x0370, 0x03FF),)),
    ("latin", ((0x41, 0x5A), (0x61, 0x7A), (0xC0, 0x24F))),
)


def lang_of(text: str) -> str:
    """Heuristic language id from script distribution.

    ja if any kana; ko if hangul-dominant among CJK; zh if han-dominant;
    else the dominant alphabetic script ('en' for latin); 'unknown' if
    no letters.
    """
    if not text:
        return "unknown"
    cps = np.frombuffer(
        text.encode("utf-32-le", "surrogatepass"), dtype="<u4"
    )
    counts = {}
    for name, ranges in _SCRIPTS:
        c = 0
        for lo, hi in ranges:
            c += int(((cps >= lo) & (cps <= hi)).sum())
        counts[name] = c
    total = sum(counts.values())
    if total == 0:
        return "unknown"
    if counts["kana"] >= max(3, 0.05 * total):
        return "ja"
    cjk = counts["hangul"] + counts["han"] + counts["kana"]
    if cjk >= 0.3 * total:
        # tie-break toward a script actually present: a 1-2 char
        # kana-only string must not fall through 0 >= 0 into 'ko'
        if counts["hangul"] > 0 and counts["hangul"] >= counts["han"]:
            return "ko"
        if counts["han"] > 0:
            return "zh"
        return "ja"
    best = max(counts, key=counts.get)
    return {"latin": "en", "cyrillic": "ru", "greek": "el"}.get(best, best)


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    id_type = docs.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "lang_pred": [lang_of(t) for t in pdf[text_col].tolist()],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(gen, f"{id_col} {id_type}, lang_pred string")


# BPE-ish token pattern shared with the DuckDB oracle: letter runs,
# digit runs, or single non-space symbols
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace and BPE-ish token counts - all JVM-side."""
    return docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0))
        ).alias("bpe_ish_tokens"),
    )


def quality_signals(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Length / word stats / punctuation & stopword ratios (JVM-side)."""
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words)
    stop_arr = F.array(*[F.lit(w) for w in ("the", "a", "of", "and", "to", "in", "is")])
    return docs.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars_m"),
        n_words.alias("n_words"),
        F.round(
            F.length(F.translate(text_col, " ", "")).cast("double") / n_words, 4
        ).alias("mean_word_len"),
        F.round(
            F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
            .cast("double")
            / n_words,
            4,
        ).alias("stopword_ratio"),
        F.round(
            (
                F.length(text_col)
                # (?U): Unicode-aware \w, else every CJK char counts
                # as punctuation and the ratio is ~1.0 for zh/ja text
                - F.length(
                    F.regexp_replace(text_col, r"(?U)[^\w\s]", "")
                )
            ).cast("double")
            / F.length(text_col),
            4,
        ).alias("punct_ratio"),
    )


def rolling_fingerprint(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n_mins: int = 4,
    base: int = 131,
    mod: int = 1_000_000_007,
) -> DataFrame:
    """Rabin-Karp-style rolling-hash fingerprint: the ``n_mins``
    smallest polynomial hashes h = sum(code(c_j) * base^(k-1-j)) mod
    ``mod`` over all k-char windows (winnowing-style min-sampling with
    an actual rolling hash instead of a digest).  Entirely JVM-side:
    window extraction via substr, the hash via F.aggregate over the
    window's characters (exact in long arithmetic: acc < mod ~ 2^30,
    acc*base + 127 < 2^38).  Character codes via ascii() - exact for
    the Latin-1 range; hand wider alphabets to char_window_fingerprint
    (md5-based) instead."""
    t = F.col(text_col)
    nwin = F.greatest(F.length(t) - (k - 1), F.lit(1))

    def win_hash(i):
        chars = F.split(t.substr(i, F.lit(k)), "")
        return F.aggregate(
            chars,
            F.lit(0).cast("long"),
            lambda acc, c: (acc * base + F.ascii(c)) % mod,
        )

    hashes = F.transform(F.sequence(F.lit(1), nwin), win_hash)
    return docs.select(
        F.col(id_col),
        F.slice(F.array_sort(hashes), 1, n_mins).alias("fingerprint"),
    )


def char_window_fingerprint(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n_mins: int = 4,
) -> DataFrame:
    """Document fingerprint: the n_mins smallest md5 digests over all
    k-char windows (a winnowing-style min-sampling; entirely JVM-side:
    sequence -> transform -> substring -> md5 -> array_sort -> slice)."""
    t = F.col(text_col)
    nwin = F.greatest(F.length(t) - (k - 1), F.lit(1))
    digests = F.transform(
        F.sequence(F.lit(1), nwin), lambda i: F.md5(t.substr(i, F.lit(k)))
    )
    return docs.select(
        F.col(id_col),
        F.slice(F.array_sort(digests), 1, n_mins).alias("fingerprint"),
    )


def unigram_logprob_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 4,
    term_freqs: DataFrame | None = None,
) -> DataFrame:
    """Per-doc mean unigram negative log-likelihood under the corpus's
    own unigram distribution: nll(d) = avg over token occurrences of
    -ln(cf(term) / total_cf).  A cheap LM-style fluency/quality proxy
    for corpus filtering (documents full of rare or garbled tokens
    score high; boilerplate scores low) in the spirit of
    CCNet/Gopher-style quality pipelines, computable without a model.

    Scale shape: term frequencies come from one tokenizer pass + a
    map-side-combinable groupBy, and the corpus total is folded INTO
    that (vocabulary-sized) table with an unpartitioned window - NOT a
    third scan: Catalyst does not dedupe common subtrees, so deriving
    the total from a separate aggregate re-tokenizes the corpus (the
    explain showed three ArrowEvalPython scans before this rewrite).
    The stats table re-joins BROADCAST against the probe pass, so the
    corpus is tokenized exactly twice and nothing corpus-sized
    shuffles or reaches the driver.  Term frequencies are
    query-independent corpus state - pass a precomputed
    ``term_freqs`` (term, cf) table to drop to a single pass.
    """
    from pyspark.sql.window import Window

    from ..spark.udfs import lexemes_udf

    def lex_of(df):
        return df.select(
            F.col(id_col).alias(id_col),
            F.explode(lexemes_udf(F.col(text_col))).alias("l"),
        ).select(id_col, F.col("l.term").alias("term"))

    if term_freqs is None:
        term_freqs = lex_of(docs).groupBy("term").agg(
            F.count(F.lit(1)).alias("cf")
        )
    cf2 = term_freqs.withColumn(
        "total", F.sum("cf").over(Window.partitionBy()).cast("double")
    )
    # LEFT join so out-of-vocabulary tokens (possible only with a
    # user-supplied term_freqs snapshot) count as maximally rare -
    # cf floor 0.5 - instead of silently dropping: an inner join
    # scored a 90%-OOV garbled doc on its 10% common tokens (looking
    # fluent, the opposite of the filter's intent) and omitted
    # fully-OOV docs entirely.  The self-derived default path has no
    # OOV, so its numbers are unchanged.
    total_lit = cf2.select(F.first("total")).limit(1)
    return (
        lex_of(docs)
        .join(F.broadcast(cf2), "term", "left")
        .crossJoin(
            F.broadcast(total_lit.toDF("corpus_total"))
        )
        .groupBy(id_col)
        .agg(
            F.round(
                F.avg(
                    -F.log(
                        F.coalesce(F.col("cf").cast("double"), F.lit(0.5))
                        / F.coalesce(
                            F.col("total"), F.col("corpus_total")
                        )
                    )
                ),
                round_digits,
            ).alias("nll")
        )
        .orderBy(id_col)
    )


def hash_split(
    docs: DataFrame,
    weights: dict[str, int] | None = None,
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: ``(id, split)`` by
    hashing the doc id (md5 of ``salt:id``, first 8 hex digits mod
    100) against cumulative percentage ``weights`` (default
    train 80 / val 10 / test 10).

    Properties a training pipeline needs and a random split lacks:
    stable under reprocessing (same id -> same split, regardless of
    partitioning, ordering, or cluster size), leakage-safe across
    incremental runs (new docs never move old ones between splits),
    and embarrassingly parallel (a narrow projection - no shuffle, no
    RNG state).  The salt namespaces independent splits of the same
    corpus."""
    weights = weights or {"train": 80, "val": 10, "test": 10}
    if sum(weights.values()) != 100:
        raise ValueError("split weights must sum to 100")
    bucket = (
        F.conv(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
            .substr(1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    expr = None
    acc = 0
    for name, w in weights.items():
        acc += w
        cond = bucket < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return docs.select(
        F.col(id_col).alias(id_col), expr.alias("split")
    )


def word_ngrams_col(t, n: int):
    """Column of word ``n``-grams (space-joined) over a split-words
    array column ``t``.  Safe for short docs: Spark's ``sequence(1, 0)``
    is the *descending* ``[1, 0]`` and ``slice(t, 0, n)`` throws, so
    texts with fewer than ``n`` words must short-circuit to an empty
    array (``explode`` then drops the row)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(t, i, n), " "),
    )
    return F.when(F.size(t) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def contamination_overlap(
    docs: DataFrame,
    probe_texts: list[str],
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-decontamination check: which corpus docs contain any
    word n-gram of the probe texts (an eval set), and how many
    distinct probe n-grams each hits - ``(id, n_hits)``.

    Scale shape: the probe n-gram set is built driver-side (eval sets
    are small by definition), broadcast, and joined against the
    corpus's exploded n-grams - corpus-side work is one projection +
    one broadcast semi-aggregation; the corpus never shuffles on its
    own size."""
    grams = set()
    for t in probe_texts:
        ws = (t or "").split()
        for i in range(max(len(ws) - n + 1, 0)):
            grams.add(" ".join(ws[i : i + n]))
    if not grams:
        raise ValueError("probe texts yield no n-grams")
    spark = docs.sparkSession
    probe = spark.createDataFrame(
        [(g,) for g in sorted(grams)], "gram string"
    )
    # whitespace-RUN split to mirror the probe side's .split():
    # a passage crossing a newline in the corpus must still match
    t = F.filter(
        F.split(F.col(text_col), "\\s+"), lambda w: w != F.lit("")
    )
    doc_grams = docs.select(
        F.col(id_col).alias(id_col),
        F.explode(word_ngrams_col(t, n)).alias("gram"),
    ).distinct()
    return (
        doc_grams.join(F.broadcast(probe), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .orderBy(id_col)
    )


def repetition_signals(
    docs: DataFrame,
    ns: tuple[int, ...] = (2, 3),
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 4,
) -> DataFrame:
    """Within-document repetition signals in the style of the Gopher
    quality rules (Rae et al. 2021, "Scaling Language Models", table
    A1): for each word n-gram size in ``ns``, the duplicate-n-gram
    fraction ``1 - distinct/total`` and the top-n-gram fraction
    ``max_count/total``.  Repetitive machine-generated or boilerplate
    pages score high on both; a corpus filter thresholds them.

    Output: ``(id, dup{n}_frac, top{n}_frac, ...)`` one row per doc
    with at least ``max(ns)`` words.

    Scale shape: every signal here is a function of ONE document, so
    nothing corpus-sized needs to shuffle at all.  One scalar Arrow UDF
    (:func:`ngrams.repetition_counts`) splits each batch of docs into
    words and, per n, counts each doc's distinct n-grams and its top
    n-gram's occurrences with one sort over exact word-code tuples
    (nothing is hashed); it returns only those integers and the word
    count, one struct per doc.  The length filter runs in the JVM
    before it and the fractions, their rounding, a hash exchange of
    the small result rows and the final ``orderBy`` after it.  Being
    a per-row column, not a ``mapInArrow``, the UDF is pruned under a
    ``count()`` of the result, which then only scans and
    length-filters the text.
    Spark's ``transform``/``aggregate`` over a per-doc gram array did
    the same counting one element at a time in interpreted lambdas,
    and took several times longer."""
    from functools import partial

    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import IntegerType, StructField, StructType

    from .ngrams import repetition_counts

    names = ["nw"] + [f"{s}{n}" for n in ns for s in ("nd", "best")]
    counts = arrow_udf(
        partial(repetition_counts, ns=tuple(ns)),
        StructType([StructField(c, IntegerType()) for c in names]),
    )
    # docs shorter than max(ns) words have no n-gram for that n and no
    # row; split(null) has size -1, so null texts drop too
    base = docs.where(F.size(F.split(F.col(text_col), " ")) >= max(ns)).select(
        F.col(id_col).alias(id_col), counts(F.col(text_col)).alias("_c")
    )
    cols = [F.col(id_col)]
    for n in ns:
        # grams per doc = n_words - n + 1 (>= 1 after the filter);
        # int/int division promotes to double exactly as the long/long
        # count()/sum(c) division did, so the rounded values match
        total = F.col("_c.nw") - (n - 1)
        cols.append(
            F.round(
                F.lit(1.0) - F.col(f"_c.nd{n}") / total, round_digits
            ).alias(f"dup{n}_frac")
        )
        cols.append(
            F.round(F.col(f"_c.best{n}") / total, round_digits).alias(
                f"top{n}_frac"
            )
        )
    # the hash exchange keeps the UDF out of orderBy's range sampling:
    # AQE samples the shuffled result rows instead of re-running the
    # scan and the UDF, so each doc reaches Python once
    return base.select(*cols).repartition(id_col).orderBy(id_col)


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic per-stratum subsampling: keep a hash-selected
    ``fractions[stratum]`` share of each stratum's rows (fractions in
    percent-granularity [0, 1], e.g. 0.25 -> 25 of 100 hash buckets).

    The workhorse of corpus mixing ("keep 10% of CommonCrawl but
    100% of Wikipedia"): like :func:`hash_split` it is a narrow
    projection - no shuffle, no RNG state - so the same doc is kept
    or dropped identically under reprocessing, repartitioning, and
    incremental runs, and the sample of a union is the union of
    samples.  Strata absent from ``fractions`` are dropped (explicit
    mixing policy beats silently keeping unknown sources).  The salt
    decorrelates this selection from hash_split's bucketing and from
    other samples of the same corpus."""
    for name, f in fractions.items():
        if not (0.0 <= f <= 1.0):
            raise ValueError(f"fraction for {name!r} must be in [0, 1]")
    bucket = (
        F.conv(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
            .substr(1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    cut = None
    for name, f in fractions.items():
        lit = F.lit(int(round(f * 100)))
        cond = F.col(strata_col) == name
        cut = F.when(cond, lit) if cut is None else cut.when(cond, lit)
    cut = F.lit(0) if cut is None else cut.otherwise(F.lit(0))
    return docs.where(bucket < cut).select(
        F.col(id_col).alias(id_col), F.col(strata_col)
    )


def top_k_per_group(
    docs: DataFrame,
    k: int,
    group_col: str = "source",
    order_col: str = "n_chars",
    id_col: str = "doc_id",
    ascending: bool = False,
) -> DataFrame:
    """Per-group top-k selection (``(id, group, rank)``): the data-
    curation primitive behind "best k documents per domain by quality
    score".  One hash-partitioned window per group - no global sort,
    no driver collection; ties break on id so reprocessing is
    deterministic."""
    from pyspark.sql.window import Window

    oc = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    w = Window.partitionBy(group_col).orderBy(oc, F.col(id_col).asc())
    return (
        docs.select(
            F.col(id_col).alias(id_col),
            F.col(group_col),
            F.row_number().over(w).alias("rank"),
        )
        .where(F.col("rank") <= k)
        .orderBy(group_col, "rank")
    )
