"""Focused measurement harness for the optimization rounds (bench.py is
FROZEN for the driver's measurement; this file holds the extra isolation
benches guide §1 calls for — per-gate timing without the build legs, noop-
sink isolation, and build-step traces).

Usage:
  python bench_extra.py gates  [rep_count]   # gate queries only, interleaved
  python bench_extra.py noop   [rep_count]   # same, with a noop sink instead
                                             # of .count() (guide §1.4)
  python bench_extra.py build                # one traced build (IR_TRACE=1)
  python bench_extra.py query  [rep_count]   # wand 50q + singles only

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

GATES = [
    "bm25_topk",
    "term_df",
    "minhash_lsh",
    "simhash",
    "cosine_topk",
    "embed_neardup",
    "tpch_pricing",
    "top_customers",
    "events_window",
    "simhash_pairs",
    "semi_join",
    "sample",
]


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "gates"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from information_retrieval_images_spark import entry_queries
    from information_retrieval_images_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]", app_name="ir-bench-extra")
    runs: dict[str, list[float]] = {}

    def record(name: str, secs: float) -> None:
        runs.setdefault(name, []).append(round(secs, 3))

    if mode in ("gates", "noop"):
        reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
        for _ in range(reps):
            for name in GATES:
                fn = entry_queries.QUERIES[name]
                spark.sparkContext.setJobDescription(f"gate:{name}")
                t0 = time.time()
                if mode == "noop":
                    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                else:
                    fn(spark, sf_dir).count()
                record(name, time.time() - t0)
        spark.sparkContext.setJobDescription(None)
    elif mode == "build":
        import shutil

        from information_retrieval_images_spark import fixtures
        from information_retrieval_images_spark.catalog import Catalog
        from information_retrieval_images_spark.operators.index_build import build_index

        n_docs = max(2000, int(600_000 * float(os.environ.get("IR_BUILD_SF", "1.0"))))
        corpus_path = f"/tmp/ir_bench_corpus_{n_docs}"
        if not os.path.isdir(corpus_path):
            fixtures.generate_pages_df(spark, n_docs, partitions=cpus).write.mode(
                "overwrite"
            ).parquet(corpus_path)
        pages = spark.read.parquet(corpus_path)
        wh = f"/tmp/ir_extra_wh_{n_docs}"
        shutil.rmtree(wh, ignore_errors=True)
        cat = Catalog(spark, wh)
        t0 = time.time()
        m = build_index(spark, pages, cat, lang="en", n_buckets=2, bucket_concurrency=2)
        record("build_arrow", time.time() - t0)
        print(f"build metrics: {m}", file=sys.stderr)
    elif mode == "query":
        reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
        from information_retrieval_images_spark import fixtures
        from information_retrieval_images_spark.catalog import Catalog
        from information_retrieval_images_spark.operators.bm25 import bm25_topk_wand

        n_docs = max(2000, int(600_000 * float(os.environ.get("IR_BUILD_SF", "1.0"))))
        wh = os.environ.get("IR_WH", f"/tmp/ir_extra_wh_{n_docs}")
        cat = Catalog(spark, wh)
        qdf = spark.createDataFrame(fixtures.make_queries_pandas())
        single_rows = list(
            fixtures.make_queries_pandas().head(8).itertuples(index=False)
        )
        for _ in range(reps):
            t0 = time.time()
            bm25_topk_wand(spark, cat, qdf).count()
            record("bm25_wand_50q", time.time() - t0)
            for row in single_rows:
                t0 = time.time()
                bm25_topk_wand(spark, cat, [tuple(row)]).count()
                record(f"single_{row.query_id}", time.time() - t0)
    else:
        raise SystemExit(f"unknown mode {mode}")

    out = {
        "mode": mode,
        "sf_dir": sf_dir,
        "queries": {k: min(v) for k, v in runs.items()},
        "runs": runs,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
