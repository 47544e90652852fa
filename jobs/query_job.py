"""spark-submit entrypoint: BM25 top-k queries against a built index.

    spark-submit --py-files ir_spark.zip jobs/query_job.py \
        --warehouse <dir> --query "web text retrieval" [--k 10] \
        [--queries-parquet path]
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--query", default=None)
    ap.add_argument("--queries-parquet", default=None)
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from information_retrieval_images_spark.catalog import Catalog
    from information_retrieval_images_spark.operators.bm25 import attach_urls, bm25_topk_wand
    from information_retrieval_images_spark.session import SPARK_CONF

    builder = SparkSession.builder.appName("ir-query")
    for k, v in SPARK_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    cat = Catalog(spark, args.warehouse)
    if args.queries_parquet:
        qdf = spark.read.parquet(args.queries_parquet)
    elif args.query is not None:
        qdf = spark.createDataFrame(
            [(0, args.query, args.k)], "query_id int, query_text string, k int"
        )
    else:
        raise SystemExit("one of --query / --queries-parquet is required")

    # display-only path: the engine deliberately does not globally sort (the
    # result contract is the (query_id, rank) KEY), so order here — otherwise
    # multi-query --queries-parquet output interleaves queries arbitrarily
    attach_urls(bm25_topk_wand(spark, cat, qdf), cat).orderBy("query_id", "rank").show(
        100, truncate=False
    )
    spark.stop()


if __name__ == "__main__":
    main()
