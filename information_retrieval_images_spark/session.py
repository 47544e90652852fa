"""SparkSession builders tuned for the fulltext workload.

Defaults chosen for scale-readiness (AQE on, skew-join on, Arrow on) and
applied identically in tests (local[2..4]), bench (local[$SPARK_GRAFT_CPUS])
and a real cluster (spark-submit --py-files with the same conf set).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical memory in whole GiB, between 1g and 48g: in
    local mode the driver is the executor, and the Python workers need the
    other half."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf (non-POSIX)
        return "48g"
    return f"{max(1, min(48, phys // 2 // 2**30))}g"


SPARK_CONF = {
    # local-mode driver == the executor: size its heap for the box (the
    # default 1g thrashes GC once the corpus persist exceeds ~500 MB). On a
    # real cluster these come from spark-submit/cluster conf instead.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
    "spark.driver.maxResultSize": "4g",
    # Arrow batch transfer for every pandas UDF (the only Python in the plan).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch sizing (retuned r6): bound batches by BYTES, not rows.
    # r5 pinned 1024 rows because at 64 KB/page the extraction chain holds
    # ~6 intermediate copies per batch and 4096-row batches thrashed memory
    # (+8-20% CPU) — but the same 1024-row cap starved every SKINNY-row
    # kernel: the block encoder sees ~40 B posting rows, so 24M rows/bucket
    # crossed the boundary in ~24k batches of per-batch Python overhead.
    # Spark 4's maxBytesPerBatch expresses the real constraint directly:
    # 16m keeps a 64 KB-page extraction batch at ~256 rows (the r5-profiled
    # safe range) while letting narrow-row kernels batch 64k rows at a time
    # (measured: full arrow build at sf1.0 48-52 s -> 33-39 s).
    # Worker memory: 16 MB x ~6 copies x 32 workers ~= 3 GB, well inside the
    # sandbox; on a cluster scale via spark.executor.pyspark.memory.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.execution.arrow.maxBytesPerBatch": "16m",
    # explicit (it is the default, but the scaling evidence depends on it):
    # reused python workers amortize interpreter+import cost across tasks —
    # a fresh worker per task would re-pay ~100-300 ms each
    "spark.python.worker.reuse": "true",
    # AQE: runtime coalescing + skew-join splitting; the north rule demands
    # explicit skew handling and AQE is the runtime half of it (build-time
    # half is range partitioning on (term, doc_id) — see operators.index_build).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE rewrite a sort-merge join to a shuffled-hash join when EVERY
    # post-shuffle partition of the build side is under this bound (r6,
    # guide §3.1): skips both sides' sorts with a hard runtime size guard,
    # so it is scale-safe by construction — oversized partitions keep
    # sort-merge. Default 0 (off) upstream; 128m is well inside executor
    # memory at any sane shuffle sizing.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "128m",
    # Partition sizing: at 100 TB these come from cluster conf; locally keep
    # shuffle partitions near core count so tiny SFs don't drown in tasks.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # FAIR scheduling across pools: concurrent driver threads (overlapped
    # bucket pipelines in build_index, sidecar commits in write_bucket) each
    # tag their jobs with a pool so one thread's long stage cannot starve
    # another's small commit job. Pools are
    # created on demand (no allocation file): default per-pool config, FAIR
    # round-robin ACROSS pools, plain FIFO for everything in the default pool
    # — single-threaded behavior is unchanged.
    "spark.scheduler.mode": "FAIR",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.ui.enabled": "false",
}


def get_spark(master: str | None = None, app_name: str = "ir-fulltext", extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.master(master or f"local[{cpus}]").appName(app_name)
    for k, v in SPARK_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
