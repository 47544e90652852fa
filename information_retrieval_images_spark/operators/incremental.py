"""Incremental index maintenance: append new pages as fresh buckets.

The reference's incremental path is the cross-system anti-join
(``db.py:324-339``: fetch all indexed md5s, skip present ones). Here the
anti-join is one Spark op against the docs table, and new documents land in
their own bucket with doc ids continuing after the current maximum.

Correctness under shifting collection statistics: appends change N and avgdl,
which changes every BM25 score. The query engine always reads the *current*
manifest's statistics and sums each term's df over the current postings
blocks (idf and scoring are query-time),
and WAND bounds derive from per-block ``(max_tf, min_dl)`` under the current
avgdl — so results after an append are exactly what a full rebuild would
score, with one intentional deviation: doc ids of appended docs are ordered
within their batch, not re-ranked globally (a rebuild renumbers; an append
must not).

Cost contract: one append touches ONLY the new bucket — df is a sum over
every bucket's blocks (Catalog.term_dfs), so the new bucket's blocks add
to it without rewriting any other bucket, and the global (N, sum dl, max doc_id) bookkeeping is
delta-maintained from the manifest plus one bucket-scoped agg (zero
full-corpus jobs per append). The one remaining whole-table read is the url
anti-join itself — inherent to ingest-by-anti-join semantics and pruned to
the url column; at 10^12 docs, route it through the per-bucket url blooms.

Exactly-once contract: the bucket is the commit unit. The new pages are
extracted and numbered once into a stage (index_build.stage_docs, the
build's staging step); the bucket's text-free docs rows and index files are
encoded from it as one new version and published by ONE manifest commit,
and the stage is deleted when the append ends. A crashed append leaves only
invisible files (the vacuum removes its stage after the grace period): a
retry of the same batch indexes it, and appends to other buckets are not
blocked. A bucket id whose postings are already committed is refused
outright: re-encoding an existing bucket's docs would silently duplicate
its postings.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import INDEX_TABLES, Catalog
from .index_build import encode_bucket_postings, global_stats, posting_runs, stage_docs


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
    ValueError when the bucket id is already committed (see module
    docstring: silent duplicate postings otherwise).
    """
    t0 = time.time()
    nparts = num_term_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with catalog.pinned() as base:
        if bucket in catalog.committed_buckets():
            raise ValueError(
                f"bucket {bucket} already committed; append requires a fresh "
                "bucket id — rebuild or delete first"
            )
        if lang is not None:
            new_pages = new_pages.where(F.col("lang") == lang)
        novel = new_pages.select("url", "html").join(catalog.read("docs").select("url"), "url", "left_anti")

        # Global-stats bookkeeping is INCREMENTAL: (N, sum dl, max id) come
        # from the manifest plus this bucket's delta — never a full-corpus
        # count/avg/max job per append (O(index) per streaming micro-batch
        # otherwise). ids continue after the current max — NOT after the row
        # count: deletes leave id gaps, and reusing a deleted id would
        # collide doc-group scoring.
        n0, sum0, max0 = catalog.global_doc_stats()
        p_logical = catalog.p_logical()  # pinned format parameter — ids derive from it
        tp_n = catalog.tp_n()
        version = catalog.new_version()
        try:
            staged = stage_docs(
                catalog, novel, version, n_buckets=1, start_id=max0 + 1, fixed_bucket=bucket, p_logical=p_logical
            )
            if staged is None:
                return {"n_new": 0, "n_docs": n0}
            bnow = staged.agg(F.count("*").alias("n"), F.sum("dl").alias("s"), F.max("doc_id").alias("mx")).collect()[0]
            n_new = int(bnow["n"])
            stats = global_stats(n0 + n_new, sum0 + int(bnow["s"] or 0), int(bnow["mx"]), p_logical, tp_n)
            runs = posting_runs(staged)
            encode_bucket_postings(catalog, runs, staged, bucket, nparts, tp_n, version=version, n_keys=n_new)
        finally:
            catalog.drop_stage(version)
        lineage = {
            "job": "append_bucket",
            "bucket": bucket,
            "n_new": n_new,
            "start_id": max0 + 1,
            "avgdl": stats["avgdl"],
            "wall_ms": int((time.time() - t0) * 1000),
        }
        catalog.commit(lineage, tables={t: {bucket: version} for t in INDEX_TABLES}, stats=stats, base=base)
    return {"n_new": n_new, "n_docs": stats["n_docs"], "avgdl": stats["avgdl"]}
