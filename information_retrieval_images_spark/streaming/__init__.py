"""Streaming / incremental maintenance.

The reference has NO streaming operators (SURVEY.md §2.10) — its incremental
behavior is ingest-by-anti-join (db.py:324-339). The batch engine covers that
with resumable bucket builds. This module adds the Structured-Streaming
shape for the two places a production deployment streams:

- :func:`incremental_index_update` — micro-batch ingest of new pages into the
  index via foreachBatch: each batch is deduped against the docs table
  (left-anti on url, the reference's md5-presence pattern) and appended as a
  new bucket; exactly-once comes from the index manifest (catalog.py) +
  streaming checkpointLocation.
- :func:`windowed_event_counts` — watermarked tumbling-window aggregation over
  an event stream (the generic late-data-tolerant rollup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts with a watermark for late data. Works on both
    streaming and batch DataFrames (same plan, Catalyst decides)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def pending_from_manifest(catalog, next_bucket_start: int) -> list[int]:
    """Committed micro-batch buckets of ONE stream not yet folded into any
    compaction — the restart-recovery set for incremental_index_update.

    Bucket-namespace disjointness (ADVICE r4 #1): recovery only claims
    buckets in the stream's own micro-batch range [next_bucket_start,
    HTTP_INGEST_BUCKET_START) — an unbounded ``>=`` filter would also sweep
    HTTP-ingest buckets (serving appends at >= 2_000_000) into the stream's
    compaction backlog, compacting another writer's buckets. A compaction
    retires its source buckets from the manifest, so the live micro-batch
    buckets ARE the pending set."""
    from ..serving import HTTP_INGEST_BUCKET_START

    return sorted(b for b in catalog.committed_buckets() if next_bucket_start <= b < HTTP_INGEST_BUCKET_START)


def incremental_index_update(
    pages_stream: DataFrame,
    catalog,
    build_fn,
    checkpoint_dir: str,
    next_bucket_start: int = 1_000_000,
    compact_every: int | None = None,
    compact_fn=None,
):
    """Maintain the inverted index under a stream of new pages.

    foreachBatch: anti-join the micro-batch against indexed urls (J2, the
    reference's cross-system anti-join done as one Spark op), then run the
    batch build for the novel rows into a fresh bucket id. Streaming
    checkpointing + the engine's manifest commits give exactly-once.

    ``compact_every``: every N appended micro-batch buckets, merge them into
    one fresh bucket via ``compact_fn(buckets, target_bucket)`` (defaults to
    operators.maintenance.compact_buckets) — continuous ingest otherwise
    accretes one tiny bucket per micro-batch and erodes scan pruning.
    Compaction targets count DOWN from ``next_bucket_start - 1`` while batch
    buckets count up from ``next_bucket_start``, so the two id sequences
    never collide. Compaction is rank-neutral (doc ids unchanged) and
    crash-safe (one manifest commit), so running it inside foreachBatch
    keeps the exactly-once story.

    The pending-compaction set is RECOVERED from the manifest on (re)start,
    not kept only in memory: the live micro-batch buckets (ids in this
    stream's own range — see pending_from_manifest) re-enter the
    accumulator, so a
    stream restart cannot silently strand them uncompacted forever (ADVICE
    r3 finding #2) nor claim another writer's buckets (ADVICE r4 #1).
    """

    created: list[int] = []
    primed = [False]

    def next_target() -> int:
        # restart-safe: targets are the ids below next_bucket_start already
        # taken by earlier compactions (live in the manifest), so a resumed
        # stream keeps descending instead of re-proposing a used id. The
        # target range is [next_bucket_start/2, next_bucket_start): far above
        # any initial batch-build bucket id, strictly below the micro-batch
        # range
        used = [b for b in catalog.committed_buckets() if next_bucket_start // 2 <= b < next_bucket_start]
        floor = min(used) if used else next_bucket_start
        return floor - 1

    def maybe_compact() -> None:
        if not compact_every or len(created) < compact_every:
            return
        target = next_target()
        if compact_fn is not None:
            compact_fn(list(created), target)
        else:
            from ..operators.maintenance import compact_buckets

            compact_buckets(catalog.spark, catalog, list(created), target)
        created.clear()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if compact_every and not primed[0]:
            # restart recovery: fold buckets stranded by a previous run's
            # in-memory accumulator back into the cadence, and compact
            # immediately if the backlog already meets the cadence
            created.extend(
                b for b in pending_from_manifest(catalog, next_bucket_start) if b not in created
            )
            primed[0] = True
            maybe_compact()
        if catalog.exists("docs"):
            seen = catalog.read("docs").select("url")
            batch_df = batch_df.join(seen, "url", "left_anti")
        if batch_df.isEmpty():
            return
        bucket = next_bucket_start + batch_id
        build_fn(batch_df, bucket=bucket)
        if compact_every:
            created.append(bucket)
            maybe_compact()

    return (
        pages_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
