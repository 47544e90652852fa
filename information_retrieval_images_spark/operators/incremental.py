"""Incremental index maintenance: append new pages as fresh buckets.

The reference's incremental path is the cross-system anti-join
(``db.py:324-339``: fetch all indexed md5s, skip present ones). Here the
anti-join is one Spark op against the docs table, and new documents land in
their own bucket with doc ids continuing after the current maximum.

Correctness under shifting collection statistics: appends change N and avgdl,
which changes every BM25 score. The query engine always reads *current*
``stats``/``stats_global`` (idf and scoring are query-time), and WAND bounds
derive from per-block ``(max_tf, min_dl)`` under the current avgdl — so
results after an append are exactly what a full rebuild would score, with one
intentional deviation: doc ids of appended docs are ordered within their
batch, not re-ranked globally (a rebuild renumbers; an append must not).

Cost contract: one append touches ONLY the new bucket — stats rows are
additive per bucket (index_build.write_bucket), so no full postings
rescan per micro-batch, and the global (N, sum dl, max doc_id) bookkeeping is
delta-maintained from the cached stats_global row plus bucket-scoped aggs
(zero full-corpus jobs per append). The one remaining whole-table read is the
url anti-join itself — inherent to ingest-by-anti-join semantics and pruned
to the url column; at 10^12 docs, route it through a per-bucket url bloom
filter recorded in the checkpoint manifest.

Exactly-once contract: the bucket is the commit unit. docs are written before
postings; if the job dies in that window, a retry finds docs for the bucket
with no checkpoint row and REBUILDS that bucket's postings from the docs
table (discarding partials) instead of no-opping — otherwise the crashed
docs would stay indexed but invisible to every query. A bucket id that
already has a checkpoint is refused outright: re-encoding an existing
bucket's docs would silently duplicate its postings (doubled df, doubled
BM25 contributions).

Appends are strictly serialized, and a crashed bucket must be repaired before
any OTHER bucket may append (enforced at entry). Under that ordering the
"orphan ids > stats_global.max_doc_id <=> not yet counted" disambiguation is
exact: nothing can raise max_doc_id between a bucket's docs write and its
stats write except that bucket's own commit (ADVICE r3 finding #1).
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from .index_build import CHECKPOINT_SCHEMA, assign_doc_ids, encode_bucket_postings, write_stats_global


def _checkpointed_buckets(catalog: Catalog) -> set[int]:
    if not catalog.exists("checkpoints"):
        return set()
    return {int(r["bucket"]) for r in catalog.read("checkpoints").select("bucket").distinct().collect()}


def _docs_buckets(catalog: Catalog) -> set[int]:
    """Bucket ids physically present in the docs table. Parquet: a directory
    listing (no Spark job — the layout is docs/bucket=N). Iceberg: a distinct
    over the partition column (metadata-only scan)."""
    if not catalog.exists("docs"):
        return set()
    if catalog.use_iceberg:
        return {int(r["bucket"]) for r in catalog.read("docs").select("bucket").distinct().collect()}
    import os

    out = set()
    for name in os.listdir(catalog.path("docs")):
        if name.startswith("bucket="):
            out.add(int(name.split("=", 1)[1]))
    return out


def append_bucket(
    spark: SparkSession,
    new_pages: DataFrame,
    catalog: Catalog,
    bucket: int,
    *,
    lang: str | None = "en",
    num_term_partitions: int | None = None,
) -> dict:
    """Index novel pages (anti-joined on url) into one new bucket.

    Returns {"n_new": int, ...}; no-op (n_new=0) when everything is already
    indexed — idempotent like the reference's md5-presence re-run. Raises
    ValueError when the bucket id already has a checkpoint (see module
    docstring: silent duplicate postings otherwise).
    """
    t0 = time.time()
    nparts = num_term_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    done = _checkpointed_buckets(catalog)
    if bucket in done:
        raise ValueError(
            f"bucket {bucket} already committed (checkpoint present); "
            "append requires a fresh bucket id — rebuild or delete first"
        )
    # Appends are strictly SERIALIZED, and a crashed bucket must be repaired
    # (re-appended under its own id) before any other bucket may append. This
    # is what makes the max_doc_id crash-repair invariant below sound: if an
    # append to B crashed before its stats write and an append to C were then
    # allowed to commit, C would (a) allocate doc ids overlapping B's orphans
    # and (b) raise stats_global.max_doc_id past them, making B's later
    # repair wrongly conclude its orphans were already counted (ADVICE r3).
    orphans_elsewhere = _docs_buckets(catalog) - done - {bucket}
    if orphans_elsewhere:
        raise RuntimeError(
            f"buckets {sorted(orphans_elsewhere)} have docs but no checkpoint "
            "(crashed write); repair first: if they came from a crashed "
            "INITIAL build (docs written for all buckets, only some "
            "checkpointed), re-run build_index(resume=True); if from a "
            "crashed append, re-run append_bucket for each orphaned bucket id "
            "— then retry this append"
        )
    if lang is not None:
        new_pages = new_pages.where(F.col("lang") == lang)
    docs_tbl = catalog.read("docs")
    novel = new_pages.select("url", "html").join(docs_tbl.select("url"), "url", "left_anti")

    # Global-stats bookkeeping is INCREMENTAL: (N, sum dl, max id) come from
    # the cached stats_global row plus bucket-scoped deltas — never a
    # full-corpus count/avg/max job per append (O(index) per streaming
    # micro-batch otherwise). Only this bucket's directory is scanned.
    n0, sum0, max0 = catalog.global_doc_stats()
    p_logical = catalog.p_logical()  # pinned format parameter — ids derive from it
    orphan = docs_tbl.where(F.col("bucket") == bucket).agg(
        F.count("*").alias("n"), F.sum("dl").alias("s"), F.max("doc_id").alias("mx")
    ).collect()[0]
    n_orphaned = int(orphan["n"])  # docs from a crashed prior attempt
    sum_orphan = int(orphan["s"] or 0)
    max_orphan = int(orphan["mx"]) if orphan["mx"] is not None else -1
    # Crash-window disambiguation: stats_global is written AFTER the docs
    # append, so orphans are already reflected in (n0, sum0) iff their ids
    # are <= max0 (appends only ever raise max_doc_id; deletes never lower
    # it, so "id > max0" <=> "not yet counted").
    orphans_counted = n_orphaned > 0 and max_orphan <= max0
    # ids continue after the current max — NOT after the row count: deletes
    # leave id gaps, and reusing a deleted id would collide doc-group scoring
    start_id = max(max0, max_orphan) + 1

    new_docs = assign_doc_ids(
        novel, n_buckets=1, start_id=start_id, fixed_bucket=bucket, p_logical=p_logical
    )
    catalog.write(new_docs, "docs", mode="append", partition_by=["bucket"])

    bnow = catalog.read("docs").where(F.col("bucket") == bucket).agg(
        F.count("*").alias("n"), F.sum("dl").alias("s"), F.max("doc_id").alias("mx")
    ).collect()[0]
    n_bucket, sum_bucket = int(bnow["n"]), int(bnow["s"] or 0)
    max_bucket = int(bnow["mx"]) if bnow["mx"] is not None else -1
    n_new = n_bucket - n_orphaned
    if n_new <= 0 and n_orphaned == 0:
        return {"n_new": 0, "n_docs": n0}
    if orphans_counted:
        n_docs, sum_dl = n0 + n_new, sum0 + (sum_bucket - sum_orphan)
    else:
        n_docs, sum_dl = n0 + n_bucket, sum0 + sum_bucket
    tp_n = catalog.tp_n()
    avgdl = write_stats_global(catalog, n_docs, sum_dl, max(max0, max_bucket), p_logical, tp_n)

    encode_bucket_postings(catalog, catalog.read("docs"), bucket, avgdl, nparts, tp_n, n_keys=n_bucket)

    lineage = json.dumps(
        {"job": "append_bucket", "bucket": bucket, "avgdl": avgdl, "start_id": start_id, "repaired": n_orphaned}
    )
    catalog.append_row("checkpoints", (bucket, "done", n_new + n_orphaned, 0, int((time.time() - t0) * 1000), lineage), CHECKPOINT_SCHEMA)
    return {"n_new": n_new, "n_docs": n_docs, "avgdl": avgdl, "n_repaired": n_orphaned}
