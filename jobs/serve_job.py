"""spark-submit entrypoint: serve BM25 /search over a built index
(reference server.py:128-177 analogue).

    spark-submit --py-files ir_spark.zip jobs/serve_job.py \
        --warehouse <dir> [--port 8080]
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8080)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from information_retrieval_images_spark.serving import SearchSession, make_http_server
    from information_retrieval_images_spark.session import SPARK_CONF

    builder = SparkSession.builder.appName("ir-serve")
    for k, v in SPARK_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    session = SearchSession(spark, args.warehouse)
    srv = make_http_server(session, host=args.host, port=args.port)
    print(f"serving on http://{args.host}:{srv.server_address[1]}/search?q=...", flush=True)
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
