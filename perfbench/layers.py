"""Per-layer metrics for the traced run (``--trace 1``).

:func:`probe` runs after the workload's timed loop and its correctness
checks, against the workload's own index: a fixed sequence of calls, one
layer at a time, so every per-layer metric exists on every workload.
Driver-side kernels (``textproc``, ``codec``) are timed single-threaded on a
seeded sample; Spark-side calls are wrapped in job groups and read back
through the status tracker and, once Spark has stopped, the event log
(:func:`event_log_metrics`). The probe ends with the write path — append,
bloom probe, delete, compaction — and checks the mutated index against a
reference over (initial - deleted + appended) pages.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

from tracing import bucket_ids, bytes_written, read_event_log, tree_state

REPEATS = 3


def _best_of(fn, repeats: int = REPEATS) -> float:
    """Median wall seconds of ``repeats`` calls."""
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def kernels(run, pages: pd.DataFrame) -> None:
    """textproc + codec kernels on a seeded 256-page sample."""
    from information_retrieval_images_spark.codec import concat_varint_decode, segmented_varint_encode
    from information_retrieval_images_spark.textproc import extract_text_series, term_frequencies_batch

    L = run.layers
    sample = pages.sample(n=min(256, len(pages)), random_state=run.args.seed).reset_index(drop=True)
    html = sample["html"]
    html_mb = sum(len(h) for h in html) / 1e6
    L["textproc.extract_mb_per_s"] = html_mb / _best_of(lambda: extract_text_series(html))
    texts = extract_text_series(html)
    ids = pd.Series(np.arange(len(sample), dtype=np.int64))
    L["textproc.tf_docs_per_s"] = len(sample) / _best_of(lambda: term_frequencies_batch(ids, texts))

    # the block encoder's input shape: (term, doc_id)-sorted runs, one
    # delta-gap segment per term
    runs = term_frequencies_batch(ids, texts).sort_values(["term", "doc_id"], kind="stable")
    terms = runs["term"].to_numpy()
    d = runs["doc_id"].to_numpy(np.int64)
    starts = np.flatnonzero(np.concatenate(([True], terms[1:] != terms[:-1])))
    ends = np.append(starts[1:], d.size)
    gaps = d.copy()
    gaps[1:] -= d[:-1]
    gaps[starts] = d[starts]
    gaps = gaps.astype(np.uint64)
    enc_mb = sum(len(b) for b in segmented_varint_encode(gaps, starts, ends)) / 1e6
    L["codec.encode_mb_per_s"] = enc_mb / _best_of(lambda: segmented_varint_encode(gaps, starts, ends))


def decode_rate(run, wh: str) -> None:
    """``concat_varint_decode`` over the index's own ``docs_enc`` blocks."""
    import pyarrow.dataset as ds

    from information_retrieval_images_spark.codec import concat_varint_decode

    tbl = ds.dataset(os.path.join(wh, "postings"), format="parquet", partitioning="hive").to_table(columns=["docs_enc"])
    blocks = tbl["docs_enc"].to_pylist()[:50_000]
    mb = sum(len(b) for b in blocks) / 1e6
    run.layers["codec.decode_mb_per_s"] = mb / _best_of(lambda: concat_varint_decode(blocks))


def probe(run, wh: str, pages: pd.DataFrame, docs: pd.DataFrame, ref, session=None) -> None:
    from information_retrieval_images_spark import fixtures
    from information_retrieval_images_spark.blooms import candidate_buckets_auto
    from information_retrieval_images_spark.catalog import Catalog
    from information_retrieval_images_spark.operators.bm25 import attach_urls, bm25_topk_wand
    from information_retrieval_images_spark.operators.index_build import term_prefix
    from information_retrieval_images_spark.operators.maintenance import compact_buckets, delete_docs
    from information_retrieval_images_spark.serving import SearchSession
    from information_retrieval_images_spark.textproc import extract_text_series, tokenize

    from inputs import zipf_queries
    from refcheck import RefIndex, dense_ids

    spark, tr, L, s, seed = run.spark, run.tracer, run.layers, run.sizes, run.args.seed
    kernels(run, pages)
    decode_rate(run, wh)

    # catalog: metadata fingerprint and the per-term df memo, cold then warm
    queries = list(fixtures.make_queries_pandas(seed + 31, s["probe_queries"])["query_text"])
    cat = Catalog(spark, wh)
    L["catalog.index_version_ms"] = _best_of(cat.index_version, 20) * 1000
    tp_n = cat.tp_n()
    terms = sorted({t for q in queries for t in tokenize(q)})
    L["catalog.term_dfs_cold_ms"] = _best_of(lambda: cat.term_dfs(terms, tp_of=lambda t: term_prefix(t, tp_n)), 1) * 1000
    L["catalog.term_dfs_warm_ms"] = _best_of(lambda: cat.term_dfs(terms, tp_of=lambda t: term_prefix(t, tp_n))) * 1000
    L["catalog.checkpoint_files"] = sum(
        1 for f in tree_state(os.path.join(wh, "checkpoints")) if f.endswith(".parquet")
    )

    run.mark("probe_kernels_catalog")

    # bm25 single-query plan vs its collect, and the same query through
    # SearchSession.search, on the session's catalog warmed by one pass
    session = session or SearchSession(spark, wh)
    scat = session.catalog
    for q in queries:
        session.search(q)
    plan, exe, groups, search_s, search_groups = [], [], [], [], []
    for i, q in enumerate(queries):
        with tr.op("bm25_single") as rec:
            t = time.time()
            df = bm25_topk_wand(spark, scat, [(i, q, 10)])
            plan.append(time.time() - t)
            attach_urls(df, scat).collect()
            exe.append(time.time() - t - plan[-1])
        groups.append(rec["group"])
        with tr.op("serving_search") as rec:
            t = time.time()
            session.search(q)
            search_s.append(time.time() - t)
        search_groups.append(rec["group"])
    run.mark("probe_single_queries")

    # bm25 batch: a head-heavy batch through the general plan (warm), with
    # the engine's default parameters, as its callers run it
    qpdf = zipf_queries(seed + 37, 0, s["probe_batch"])
    attach_urls(bm25_topk_wand(spark, cat, qpdf), cat).collect()
    with tr.op("bm25_batch") as rec:
        t = time.time()
        df = bm25_topk_wand(spark, cat, qpdf)
        t_plan = time.time() - t
        attach_urls(df, cat).collect()
        t_exec = time.time() - t - t_plan
    batch_group = rec["group"]
    with tr.op("bm25_batch_scan"):  # without the url join: the postings scan alone
        bm25_topk_wand(spark, cat, qpdf).collect()
    L["bm25.batch_plan_s"] = t_plan
    L["bm25.batch_exec_s"] = t_exec
    run.mark("probe_batch")

    time.sleep(0.5)  # let the status store see the last task ends
    single_counts = [tr.group_counts(g) for g in groups]
    L["bm25.plan_ms"] = statistics.median(plan) * 1000
    L["bm25.exec_ms"] = statistics.median(exe) * 1000
    L["bm25.jobs_per_query"] = statistics.median(c["jobs"] for c in single_counts)
    L["bm25.tasks_per_query"] = statistics.median(c["tasks"] for c in single_counts)
    L["serving.search_ms"] = statistics.median(search_s) * 1000
    L.setdefault(
        "serving.search_jobs_per_query", statistics.median(tr.group_counts(g)["jobs"] for g in search_groups)
    )
    bc = tr.group_counts(batch_group)
    L["bm25.batch_jobs"] = bc["jobs"]
    L["bm25.batch_tasks"] = bc["tasks"]
    run.named["probe_counts"] = {
        "bm25_single_per_query": {k: statistics.median(c[k] for c in single_counts) for k in single_counts[0]},
        "bm25_batch": bc,
    }

    # write path on the same index: append -> bloom probe -> delete -> compact
    n0 = int(docs["doc_id"].max()) + 1
    new_pages = fixtures.make_pages_batch(np.arange(10**7, 10**7 + s["probe_append"]), seed=seed + 53)
    appended = dense_ids(new_pages, start_id=n0)
    before = tree_state(wh)
    with tr.op("append") as rec:
        t = time.time()
        session.append(new_pages.to_dict("records"))
        L["incremental.append_s"] = time.time() - t
    L["incremental.append_bytes_written"] = bytes_written(before, tree_state(wh))

    rng = np.random.default_rng([seed, 59])
    victims = list(rng.choice(docs["url"].to_numpy(), size=4, replace=False))
    victims += list(rng.choice(appended["url"].to_numpy(), size=3, replace=False))
    victims.append("https://absent.example/p/none")
    all_buckets = bucket_ids(wh)
    t = time.time()
    cands = candidate_buckets_auto(session.catalog, all_buckets, victims)
    L["blooms.probe_ms"] = (time.time() - t) * 1000
    L["blooms.candidate_ratio"] = len(cands) / len(all_buckets)

    before = tree_state(wh)
    with tr.op("delete"):
        t = time.time()
        res = delete_docs(spark, session.catalog, victims)
        L["maintenance.delete_s"] = time.time() - t
    L["maintenance.delete_buckets_touched"] = len(res["buckets"])
    L["maintenance.delete_bytes_rewritten"] = bytes_written(before, tree_state(wh))

    initial = {int(b) for b in np.unique(docs["doc_id"].to_numpy() % 2)}
    moved = sorted(bucket_ids(wh) - initial)
    before = tree_state(wh)
    with tr.op("compact"):
        t = time.time()
        compact_buckets(spark, session.catalog, moved, max(bucket_ids(wh)) + 1)
        L["maintenance.compact_s"] = time.time() - t
    L["maintenance.compact_bytes_rewritten"] = bytes_written(before, tree_state(wh))
    # write amplification of the whole write path per byte of ingested text
    ingest = sum(len(t.encode("utf-8")) for t in extract_text_series(appended["html"]))
    L["incremental.write_bytes_per_ingest_byte"] = (
        L["incremental.append_bytes_written"]
        + L["maintenance.delete_bytes_rewritten"]
        + L["maintenance.compact_bytes_rewritten"]
    ) / ingest
    run.mark("probe_writes")

    # the mutated index ranks exactly like a reference over its live pages:
    # the reference query set as one batch, and the first query through the
    # session that committed the writes (its caches must have been dropped)
    live = pd.concat([docs, appended], ignore_index=True)
    mref = RefIndex(live[~live["url"].isin(victims)])
    mq = fixtures.make_queries_pandas(seed + 61, s["ref_queries"])
    run.check("mutated_index_batch", run.batch_matches(wh, mq, mref))
    q0 = mq["query_text"][0]
    got = [(r["doc_id"], r["url"], r["bm25_score"]) for r in session.search(q0)]
    run.check("mutated_index_fresh_search", mref.matches(q0, got))
    run.mark("probe_check")


def event_log_metrics(run) -> None:
    """Task-level totals per op from the event log (Spark has stopped)."""
    tr, L = run.tracer, run.layers
    totals = tr.attribute(read_event_log(run.path("eventlog")))

    def per_op(name: str) -> list[dict]:
        return [dict(totals[op["group"]], **op) for op in tr.ops if op["name"] == name]

    builds = per_op("build") or per_op("setup_build")
    med = lambda key, rows: statistics.median(r[key] for r in rows)  # noqa: E731
    L["index_build.jobs"] = med("jobs", builds)
    L["index_build.tasks"] = med("tasks", builds)
    L["index_build.failed_tasks"] = med("failed_tasks", builds)
    L["index_build.task_cpu_s"] = med("cpu_s", builds)
    L["index_build.gc_s"] = med("gc_s", builds)
    L["index_build.shuffle_write_bytes_per_doc"] = statistics.median(
        r["shuffle_write_bytes"] / r["n_docs"] for r in builds
    )
    L["index_build.spill_bytes"] = med("spill_bytes", builds)
    L["index_build.bucket_wall_s_max"] = med("bucket_wall_s_max", builds)
    L["index_build.wall_s"] = statistics.median(r["t1"] - r["t0"] for r in builds)

    batch = per_op("bm25_batch")[0]
    L["bm25.batch_task_cpu_s"] = batch["cpu_s"]
    L["bm25.batch_shuffle_write_bytes"] = batch["shuffle_write_bytes"]
    scan = per_op("bm25_batch_scan")[0]
    L["bm25.postings_rows_scanned_per_query"] = scan["records_read"] / run.sizes["probe_batch"]
    L["incremental.append_jobs"] = per_op("append")[0]["jobs"]
    L["maintenance.delete_jobs"] = per_op("delete")[0]["jobs"]
    run.named["op_totals"] = {
        name: {k: statistics.median(r[k] for r in rows) for k in ("jobs", "tasks", "failed_tasks", "cpu_s", "gc_s")}
        for name in sorted({op["name"] for op in tr.ops})
        if (rows := per_op(name))
    }
