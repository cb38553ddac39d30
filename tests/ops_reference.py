"""Reference formulations the dedup-operator tests compare the library
with: the same operators written with Spark's higher-order functions
(``transform`` / ``aggregate`` over each doc's word array), evaluated
per element in the JVM - slow, but each step reads as its definition.

- ``repetition_signals_reference``: per doc, the sorted n-gram array
  and one ``aggregate`` pass counting distinct grams and the longest
  run of equal grams;
- ``duplicate_spans_reference``: per doc, ``xxhash64`` of every k-word
  slice, ``array_distinct``, then the same window and count as the
  library.
"""

from pyspark.sql import DataFrame, Window, functions as F

from pg_cjk_parser_spark.ops.textstats import word_ngrams_col


def repetition_signals_reference(
    docs: DataFrame,
    ns: tuple[int, ...] = (2, 3),
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 4,
) -> DataFrame:
    nmax = max(ns)
    words = F.split(F.col(text_col), " ")

    def _stats(n: int):
        """(best, nd) of the doc's sorted n-gram array: equal grams
        are adjacent, so the longest equal run is the top gram's
        count and run starts count the distinct grams."""
        g = F.array_sort(word_ngrams_col(words, n))
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
            F.lit(0).alias("nd"),
        )

        def step(acc, x):
            same = x.eqNullSafe(acc["prev"])
            run = F.when(same, acc["run"] + 1).otherwise(F.lit(1))
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
                (acc["nd"] + F.when(same, F.lit(0)).otherwise(F.lit(1))).alias(
                    "nd"
                ),
            )

        return F.aggregate(g, init, step)

    base = docs.where(F.size(words) >= nmax).select(
        F.col(id_col).alias(id_col),
        F.size(words).alias("_nw"),
        *[_stats(n).alias(f"_s{n}") for n in ns],
    )
    cols = [F.col(id_col)]
    for n in ns:
        total = F.col("_nw") - (n - 1)
        cols.append(
            F.round(F.lit(1.0) - F.col(f"_s{n}.nd") / total, round_digits).alias(
                f"dup{n}_frac"
            )
        )
        cols.append(
            F.round(F.col(f"_s{n}.best") / total, round_digits).alias(
                f"top{n}_frac"
            )
        )
    return base.select(*cols).orderBy(id_col)


def span_hashes_reference(docs: DataFrame, k: int, id_col: str, text_col: str):
    """Per doc, the distinct ``xxhash64`` of its k-word slices, one
    ``(id, h)`` row each."""
    t = F.split(F.col(text_col), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(t) - (k - 1), F.lit(1))),
        lambda i: F.xxhash64(F.slice(t, i, k)),
    )
    hs = F.when(F.size(t) >= k, grams).otherwise(F.array().cast("array<long>"))
    return docs.select(
        F.col(id_col).alias(id_col), F.explode(F.array_distinct(hs)).alias("h")
    )


def duplicate_spans_reference(
    docs: DataFrame, k: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    spans = span_hashes_reference(docs, k, id_col, text_col)
    nd = F.count(F.lit(1)).over(Window.partitionBy("h"))
    return (
        spans.withColumn("nd", nd)
        .where(F.col("nd") >= 2)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
        .orderBy(id_col)
    )
