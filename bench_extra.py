"""Focused measurement harness for the optimization rounds (bench.py is
FROZEN for the driver's measurement; this file holds the extra isolation
benches guide §1 calls for — per-gate timing without the build legs, noop-
sink isolation).

Usage:
  python bench_extra.py gates  [rep_count]   # gate queries only, interleaved
  python bench_extra.py noop   [rep_count]   # same, with a noop sink instead
                                             # of .count() (guide §1.4)

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
