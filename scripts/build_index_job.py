"""spark-submit entry point: build (or resume) the inverted index.

Usage (multi-executor cluster or local):

    python scripts/make_pyfiles.py   # -> dist/pg_cjk_parser_spark.zip
    spark-submit --py-files dist/pg_cjk_parser_spark.zip \
        scripts/build_index_job.py \
        --input /data/webcorpus_parquet --index-dir /data/index \
        --num-buckets 4096 --num-salts 64 [--resume] [--synth-docs N]

All heavy stages are DataFrame jobs; no driver-side data loops, so the
same script runs unchanged at N or 4N executors.
"""

from __future__ import annotations

import argparse
import json


def _executor_env(_rows):
    """Runs in an executor task: where the package came from and
    whether importing it installed the zip-directory guard."""
    import pg_cjk_parser_spark
    from pg_cjk_parser_spark.spark import worker_env

    yield {
        "package_file": pg_cjk_parser_spark.__file__,
        "guard_active": worker_env.active(),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path or iceberg table of the corpus")
    ap.add_argument("--synth-docs", type=int, default=0,
                    help="generate a deterministic synthetic corpus instead")
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--docid-col", default=None)
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--num-buckets", type=int, default=64)
    ap.add_argument("--num-salts", type=int, default=4)
    ap.add_argument("--block-size", type=int, default=128)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--query", action="append", default=[],
                    help="optional smoke queries to run after the build")
    args = ap.parse_args()
    if not args.input and not args.synth_docs:
        ap.error("one of --input or --synth-docs is required")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("pg_cjk_index_build").getOrCreate()

    from pg_cjk_parser_spark.index.build import build_index
    from pg_cjk_parser_spark.query.topk import search
    from pg_cjk_parser_spark.spark.corpus import synth_corpus
    from pg_cjk_parser_spark.spark.sources import read_corpus

    if args.synth_docs:
        docs = synth_corpus(spark, args.synth_docs, seed=42)
        n_docs = args.synth_docs
    else:
        docs = read_corpus(spark, args.input)
        n_docs = None

    stats = build_index(
        spark,
        docs,
        args.index_dir,
        docid_col=args.docid_col,
        text_col=args.text_col,
        num_buckets=args.num_buckets,
        num_salts=args.num_salts,
        block_size=args.block_size,
        resume=args.resume,
        n_docs=n_docs,
    )
    print(json.dumps({"stats": stats}))
    executor = (
        spark.sparkContext.parallelize([0], 1)
        .mapPartitions(_executor_env)
        .collect()[0]
    )
    print(json.dumps({"executor": executor}))
    for q in args.query:
        rows = search(spark, args.index_dir, q, k=10).collect()
        print(json.dumps({
            "query": q,
            "topk": [[r.docid, round(r.score, 6)] for r in rows],
        }, ensure_ascii=False))
    spark.stop()


if __name__ == "__main__":
    main()

# NOTE: CJK query args require a UTF-8 locale for spark-submit (LANG=C.UTF-8).
