"""spark-submit entrypoint: build (or resume) the inverted index.

    spark-submit --py-files ir_spark.zip jobs/build_index_job.py \
        --pages <parquet-path> --warehouse <dir> \
        [--lang en] [--buckets 8] [--resume] [--term-partitions N] \
        [--p-logical N]

The same artifact runs on local[N] and a multi-executor cluster — no code
changes, only --master/cluster conf. Build the zip with scripts/package.sh.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--lang", default="en")
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--term-partitions", type=int, default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--p-logical", dest="p_logical", type=int, default=None,
                    help="doc-id modulus (index-format parameter, pinned per index)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from information_retrieval_images_spark.catalog import Catalog
    from information_retrieval_images_spark.operators.index_build import build_index
    from information_retrieval_images_spark.session import SPARK_CONF
    from information_retrieval_images_spark.sources.pages import read_pages

    builder = SparkSession.builder.appName("ir-build-index")
    for k, v in SPARK_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    pages = read_pages(spark, args.pages)
    cat = Catalog(spark, args.warehouse)
    metrics = build_index(
        spark,
        pages,
        cat,
        lang=args.lang,
        n_buckets=args.buckets,
        num_term_partitions=args.term_partitions,
        resume=args.resume,
        p_logical=args.p_logical,
    )
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
