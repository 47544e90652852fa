"""End-to-end golden test: build index over the synthetic fixture corpus,
run the frozen query set, compare rank-identically to the oracle scorer
(SURVEY.md §5 — the Spark analogue of the reference's --post-test frozen
corpus + committed-CSV pattern, post_test_score.py:9-79)."""

import math
import sys
import threading
import uuid

import pandas as pd
import pytest

from information_retrieval_images_spark import fixtures
from information_retrieval_images_spark.catalog import Catalog
from information_retrieval_images_spark.operators.bm25 import (
    RESULT_SCHEMA,
    attach_urls,
    bm25_search,
    bm25_topk_wand,
)
from information_retrieval_images_spark.operators.index_build import build_index
from information_retrieval_images_spark.oracle import (
    build_oracle_index,
    oracle_results_frame,
)
from information_retrieval_images_spark.serving import SearchSession

N_DOCS = 300
N_QUERIES = 20


@pytest.fixture(scope="module")
def corpus():
    pages = fixtures.make_pages_pandas(N_DOCS)
    queries = fixtures.make_queries_pandas(n_queries=N_QUERIES)
    idx = build_oracle_index(pages, lang="en")
    expected = oracle_results_frame(idx, queries)
    return pages, queries, idx, expected


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    from information_retrieval_images_spark.catalog import Catalog

    pages, queries, idx, expected = corpus
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    pages_df = spark.createDataFrame(pages)
    metrics = build_index(spark, pages_df, cat, lang="en", n_buckets=3)
    return cat, metrics


def _assert_rank_identical(got: pd.DataFrame, expected: pd.DataFrame):
    got = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    expected = expected.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(got) == len(expected), f"{len(got)} vs {len(expected)} result rows"
    assert got["query_id"].tolist() == expected["query_id"].tolist()
    assert got["rank"].tolist() == expected["rank"].tolist()
    assert got["doc_id"].tolist() == expected["doc_id"].tolist()
    assert got["bm25_score"].tolist() == expected["bm25_score"].tolist()


def test_extraction_byte_identity(spark, corpus, built):
    """The north-rule invariant: engine extracted text == oracle per url.
    The index stores no text, so the check reads the rows assign_doc_ids
    stages for the build (same ids as the built docs table), and no parquet
    file of the finished build has a text column."""
    import glob
    import os

    import pyarrow.parquet as pq

    from information_retrieval_images_spark.operators.index_build import assign_doc_ids
    from information_retrieval_images_spark.textproc import extract_text

    pages, _, idx, _ = corpus
    cat, _ = built
    en = pages[pages["lang"] == "en"]
    staged = assign_doc_ids(spark.createDataFrame(en[["url", "html"]]), n_buckets=3).toPandas()
    assert len(staged) == idx.n_docs
    by_url = {r.url: r.text for r in staged.itertuples()}
    for row in en.itertuples(index=False):
        assert by_url[row.url] == extract_text(row.html)
    docs = cat.read("docs").select("doc_id", "url").toPandas()
    assert dict(zip(docs["url"], docs["doc_id"])) == dict(zip(staged["url"], staged["doc_id"]))

    files = glob.glob(os.path.join(cat.root, "**", "*.parquet"), recursive=True)
    assert files
    for f in files:
        assert "text" not in pq.read_schema(f).names, f


def test_docid_contract(spark, corpus, built):
    """Dense 0..N-1 ids in ascending url order, matching the oracle."""
    _, _, idx, _ = corpus
    cat, _ = built
    docs = cat.read("docs").select("doc_id", "url").toPandas().sort_values("doc_id")
    assert docs["doc_id"].tolist() == list(range(idx.n_docs))
    assert docs["url"].tolist() == [idx.url_of[i] for i in range(idx.n_docs)]


def test_stats_match_oracle(spark, corpus, built):
    _, _, idx, _ = corpus
    cat, _ = built
    n_docs, avgdl = cat.global_query_stats()
    assert n_docs == idx.n_docs
    assert math.isclose(avgdl, idx.avgdl, rel_tol=1e-12)
    # df is the sum of n_docs over a term's blocks in every bucket: the
    # query path's lookup over the oracle's whole vocabulary, plus a term
    # that is not indexed
    absent = "zzz-not-indexed"
    assert absent not in idx.postings
    dfs = Catalog(spark, cat.root).term_dfs([*idx.postings, absent])
    assert dfs == {**{t: len(plist) for t, plist in idx.postings.items()}, absent: 0}


class _MemoClearedByAnotherThread(dict):
    """A df memo that another thread clears (its fetch overflowed the cap)
    right after each read and each store this call makes."""

    def get(self, key, default=None):
        value = super().get(key, default)
        self.clear()
        return value

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        self.clear()


def test_term_dfs_survive_a_concurrent_memo_clear(spark, corpus, built):
    """Catalog.term_dfs answers from its own reads: a memo cleared between
    a call's lookup and its return changes none of the dfs it returns, for
    memo hits and for fetched misses alike (an indexed term read back as 0
    would silently drop out of the query)."""
    _, _, idx, _ = corpus
    cat, _ = built
    terms = [*sorted(idx.postings)[:5], "zzz-not-indexed"]
    want = {t: len(idx.postings.get(t, [])) for t in terms}
    fresh = Catalog(spark, cat.root)
    snap = fresh.snapshot()
    snap.term_df = _MemoClearedByAnotherThread()  # every term is a miss
    assert fresh.term_dfs(terms) == want
    snap.term_df = _MemoClearedByAnotherThread(want)  # every term is a hit
    assert fresh.term_dfs(terms) == want


def test_wand_rank_identity(spark, corpus, built):
    _, queries, _, expected = corpus
    cat, _ = built
    qdf = spark.createDataFrame(queries)
    # a per-task budget below every query's volume forces fan-out > 1: the
    # general plan with its global-rank window
    got = bm25_topk_wand(spark, cat, qdf, postings_per_task=8).toPandas()
    _assert_rank_identical(got, expected[["query_id", "rank", "doc_id", "bm25_score"]])


def test_build_engine_guard_keeps_index(spark, corpus, built):
    """"arrow" is the only build engine: any other value raises before a
    fresh build drops the tables, so the built index keeps serving the same
    oracle-equal top-k."""
    pages, queries, _, expected = corpus
    cat, _ = built
    with pytest.raises(ValueError, match="engine"):
        build_index(spark, spark.createDataFrame(pages), cat, lang="en", n_buckets=3, engine="sql")
    got = bm25_topk_wand(spark, cat, spark.createDataFrame(queries)).toPandas()
    _assert_rank_identical(got, expected[["query_id", "rank", "doc_id", "bm25_score"]])


def _jobs_in_group(spark, fn):
    """(fn(), ids of the Spark jobs fn submitted from this thread), read
    from a job group of its own."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


ABSENT_QUERY = "zzzznotaterm"


def _search_frame(got: list[dict], query_id: int) -> pd.DataFrame:
    return pd.DataFrame(got, columns=["rank", "doc_id", "url", "bm25_score"]).assign(query_id=query_id)


def test_warm_search_runs_no_spark_job(spark, corpus, built):
    """A warm SearchSession.search of a fan-out-1 query is scored in the
    driver: zero Spark jobs in its job group, oracle-identical ranks, urls
    and scores, and identical floats on a repeat (fixed row order)."""
    _, queries, idx, expected = corpus
    cat, _ = built
    session = SearchSession(spark, cat.root)
    exp = expected[["query_id", "rank", "doc_id", "bm25_score"]]
    for i, row in enumerate(queries.itertuples(index=False)):
        _, cold_jobs = _jobs_in_group(spark, lambda: session.search(row.query_text, k=row.k))
        if i == 0:  # the probe sees jobs: the cold call fetches term dfs
            assert cold_jobs
        got, jobs = _jobs_in_group(spark, lambda: session.search(row.query_text, k=row.k))
        assert jobs == [], (row.query_text, jobs)
        _assert_rank_identical(_search_frame(got, row.query_id), exp[exp["query_id"] == row.query_id])
        assert [r["url"] for r in got] == [idx.url_of[r["doc_id"]] for r in got]
        assert session.search(row.query_text, k=row.k) == got
    # a query whose terms are all absent (a typo) is an empty result, warm
    # or cold, and a warm one runs no job either
    session.search(ABSENT_QUERY)
    got, jobs = _jobs_in_group(spark, lambda: session.search(ABSENT_QUERY))
    assert got == [] and jobs == [], (got, jobs)


def test_warm_search_opens_no_docs_file(spark, corpus, built, monkeypatch):
    """A warm search reads no file: its postings rows come from the
    postings-file cache, its dls and urls from the doc-group cache. A spy
    on pyarrow.dataset.dataset, the reader both cache fills use, sees the
    cold searches (on an emptied cache) open postings and docs files and
    the warm ones open nothing, while ranks, scores and urls still equal
    the oracle's."""
    import pyarrow.dataset as pads

    from information_retrieval_images_spark.operators import bm25 as bm25_mod

    _, queries, idx, expected = corpus
    cat, _ = built
    monkeypatch.setattr(bm25_mod, "_CACHE", {})
    monkeypatch.setattr(bm25_mod, "_CACHE_BYTES", [0])
    session = SearchSession(spark, cat.root)
    exp = expected[["query_id", "rank", "doc_id", "bm25_score"]]
    rows = list(queries.itertuples(index=False))
    opened = []
    orig = pads.dataset

    def spy(source, *a, **kw):
        opened.extend([source] if isinstance(source, str) else source)
        return orig(source, *a, **kw)

    monkeypatch.setattr(pads, "dataset", spy)
    for row in rows:  # cold: term dfs, postings files and doc groups
        session.search(row.query_text, k=row.k)
    for root in (cat.path("postings"), cat.path("docs")):
        assert [p for p in opened if str(p).startswith(root)], f"the spy saw no read under {root}"
    opened.clear()
    for row in rows:
        got = session.search(row.query_text, k=row.k)
        _assert_rank_identical(_search_frame(got, row.query_id), exp[exp["query_id"] == row.query_id])
        assert [r["url"] for r in got] == [idx.url_of[r["doc_id"]] for r in got]
    assert opened == [], opened


def test_warm_search_of_a_bucket_subset_opens_no_docs_file(spark, corpus, built, monkeypatch):
    """Doc groups are cached per (docs version, group), so a query whose
    terms touch only some of a group's buckets is served from the entries
    an earlier query left: after a search for a term with postings in every
    bucket of doc group 0, a search for a term with postings in one bucket
    opens no docs file, and its ranks, scores and urls equal the
    oracle's."""
    import pyarrow.dataset as pads

    from information_retrieval_images_spark.operators import bm25 as bm25_mod
    from information_retrieval_images_spark.oracle import oracle_topk
    from information_retrieval_images_spark.textproc import tokenize

    _, _, idx, _ = corpus
    cat, _ = built
    monkeypatch.setattr(bm25_mod, "_CACHE", {})
    monkeypatch.setattr(bm25_mod, "_CACHE_BYTES", [0])
    rows = cat.read("postings").select("term", "bucket", "first_doc").toPandas()
    assert (rows["first_doc"].to_numpy() >> 14 == 0).all()  # one doc group
    spread = rows.groupby("term")["bucket"].nunique()
    wide = next(t for t in spread[spread == 3].index if tokenize(t) == [t])
    narrow = next(t for t in spread[spread == 1].index if tokenize(t) == [t])
    session = SearchSession(spark, cat.root)
    session.search(wide)
    opened = []
    orig = pads.dataset

    def spy(source, *a, **kw):
        opened.extend([source] if isinstance(source, str) else source)
        return orig(source, *a, **kw)

    monkeypatch.setattr(pads, "dataset", spy)
    got = session.search(narrow)
    assert got
    assert [(r["doc_id"], r["url"], r["bm25_score"]) for r in got] == oracle_topk(idx, narrow, 10)
    assert [p for p in opened if str(p).startswith(cat.path("postings"))], "the spy saw no read"
    assert not [p for p in opened if str(p).startswith(cat.path("docs"))], opened


def test_warm_search_decodes_nothing(spark, corpus, built, monkeypatch):
    """A warm search decodes no posting payload: the cache holds each
    queried term's rows of a postings file decoded. A spy on
    codec.varint_decode, which every block decode runs through, sees the
    cold searches (on an emptied cache) decode and the warm ones decode
    nothing, while ranks, scores and urls still equal the oracle's."""
    from information_retrieval_images_spark import codec
    from information_retrieval_images_spark.operators import bm25 as bm25_mod

    _, queries, idx, expected = corpus
    cat, _ = built
    monkeypatch.setattr(bm25_mod, "_CACHE", {})
    monkeypatch.setattr(bm25_mod, "_CACHE_BYTES", [0])
    session = SearchSession(spark, cat.root)
    exp = expected[["query_id", "rank", "doc_id", "bm25_score"]]
    rows = list(queries.itertuples(index=False))
    decoded = []
    real = codec.varint_decode
    monkeypatch.setattr(codec, "varint_decode", lambda buf: decoded.append(len(buf)) or real(buf))
    for row in rows:  # cold: term dfs, postings files and doc groups
        session.search(row.query_text, k=row.k)
    assert decoded, "the spy saw no decode"
    decoded.clear()
    for row in rows:
        got = session.search(row.query_text, k=row.k)
        _assert_rank_identical(_search_frame(got, row.query_id), exp[exp["query_id"] == row.query_id])
        assert [r["url"] for r in got] == [idx.url_of[r["doc_id"]] for r in got]
    assert decoded == [], decoded


def test_cached_arrays_are_read_only(spark, corpus, built):
    """Request threads share the cached arrays, so every numpy array the
    cache holds, in postings files, decoded term rows and doc groups alike,
    is read-only: an in-place write raises instead of changing what later
    queries score."""
    import numpy as np

    from information_retrieval_images_spark.operators import bm25 as bm25_mod

    _, queries, _, _ = corpus
    cat, _ = built
    session = SearchSession(spark, cat.root)
    for row in queries.head(4).itertuples(index=False):
        session.search(row.query_text, k=row.k)
    # keys: a postings file's path, (docs directory, group), (postings file, term)
    kinds = {"file" if isinstance(key, str) else type(key[1]).__name__ for key in bm25_mod._CACHE}
    assert kinds == {"file", "int", "str"}, kinds
    for value, _ in bm25_mod._CACHE.values():
        arrays = [a for a in value if isinstance(a, np.ndarray)]
        assert arrays
        for a in arrays:
            assert not a.flags.writeable
            with pytest.raises(ValueError, match="read-only"):
                a[:1] = a[:1]


def test_cache_serves_no_superseded_version(spark, tmp_path_factory):
    """The cache keys entries by immutable version paths, so a commit can
    never be answered from a superseded version: in one warm SearchSession,
    after an append_bucket and then a delete_docs of urls it ranks top,
    every search equals an oracle over the new page set, while the cache
    still holds the superseded files."""
    from information_retrieval_images_spark.operators import bm25 as bm25_mod
    from information_retrieval_images_spark.operators.incremental import append_bucket
    from information_retrieval_images_spark.operators.maintenance import delete_docs
    from information_retrieval_images_spark.oracle import oracle_topk

    pages = fixtures.make_pages_pandas(220)
    wh = str(tmp_path_factory.mktemp("superseded"))
    build_index(spark, spark.createDataFrame(pages.iloc[:150]), Catalog(spark, wh), n_buckets=2)
    session = SearchSession(spark, wh)
    texts = ["term000000", "term000003 term000120", "term000401"]

    def assert_oracle(corpus: pd.DataFrame) -> None:
        idx = build_oracle_index(corpus, lang="en")
        for q in texts:
            session.search(q)  # the first search after a commit fetches its term dfs
            got = session.search(q)
            assert [(r["url"], r["bm25_score"]) for r in got] == [(u, sc) for _, u, sc in oracle_topk(idx, q, 10)], q

    assert_oracle(pages.iloc[:150])
    warm = set(bm25_mod._CACHE)
    assert any(str(key).startswith(session.catalog.path("postings")) for key in warm), warm
    append_bucket(spark, spark.createDataFrame(pages), session.catalog, bucket=1000)
    assert_oracle(pages)
    victims = [r["url"] for q in texts for r in session.search(q)[:2]]
    res = delete_docs(spark, session.catalog, victims)
    assert res["n_deleted"] == len(set(victims)) and res["buckets"], res
    assert_oracle(pages[~pages["url"].isin(victims)])
    assert warm <= set(bm25_mod._CACHE)  # superseded entries are held, never served


def test_postings_file_out_of_term_order_raises(tmp_path):
    """The driver path binary-searches each cached postings file's term
    column, so a file that is not sorted by term would silently lose rows:
    the cache fill refuses it instead, and reads a sorted one in file
    order, from which a term's rows decode."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from information_retrieval_images_spark.operators import bm25 as bm25_mod

    def write(name, terms):
        n = len(terms)
        cols = {"term": terms, "first_doc": list(range(n)), "n_docs": [1] * n, "max_tf": [1] * n}
        cols.update(min_dl=[1] * n, docs_enc=[b"\x00"] * n, tfs_enc=[b"\x01"] * n)
        pq.write_table(pa.table(cols), str(tmp_path / name))
        return str(tmp_path / name)

    good = write("sorted.parquet", ["b", "b", "é", "éa"])
    files = bm25_mod._postings_files([good])
    terms, tbl = files[good]
    assert terms.tolist() == [t.encode() for t in ["b", "b", "é", "éa"]]
    assert tbl["first_doc"].to_pylist() == [0, 1, 2, 3]
    tp = bm25_mod._term_postings([(good, "b"), (good, "éa")], files)
    assert [(p.first_doc.tolist(), p.start.tolist(), p.offs.tolist(), p.tfs.tolist()) for p in tp.values()] == [
        ([0, 1], [0, 1, 2], [0, 0], [1, 1]),
        ([3], [0, 1], [0], [1]),
    ]
    bad = write("unsorted.parquet", ["b", "a"])
    with pytest.raises(RuntimeError, match="not sorted by term"):
        bm25_mod._postings_files([bad])


def test_kernel_is_independent_of_row_order(spark, built, monkeypatch):
    """Permuting a task's block rows leaves the kernel's ranked (doc_id,
    bm25_score) list identical, float for float, on the driver entry (the
    row arrays, with their postings gathered from the decoded term rows)
    and on the Spark plan's applyInPandas wrapper (a frame of encoded
    blocks, whose visited groups decode in the permuted row order). The
    query repeats a term, so equal-qpos and repeated-term rows both move; k=3
    keeps the threshold pruning active."""
    import numpy as np

    from information_retrieval_images_spark.codec import varint_encode
    from information_retrieval_images_spark.operators import bm25 as bm25_mod
    from information_retrieval_images_spark.operators.index_build import DOC_GROUP_BITS

    cat, _ = built
    real = bm25_mod._wand_task_kernel
    calls = []
    monkeypatch.setattr(bm25_mod, "_wand_task_kernel", lambda *a: calls.append(a) or real(*a))
    for k in (3, 10):
        bm25_search(spark, cat, "term000007 term000001 term000007 term000007 term000002", k)
    monkeypatch.undo()
    assert len(calls) == 2
    rng = np.random.default_rng(0)
    for cols, postings, k, avgdl, dl_root in calls:
        want = real(cols, postings, k, avgdl, dl_root)[0]
        assert len(want) == k
        n = len(cols["qpos"])
        assert n > 4, n
        # each row's postings as the block payloads the Spark plan ships
        base = (cols["first_doc"] >> DOC_GROUP_BITS) << DOC_GROUP_BITS
        docs_enc, tfs_enc = [], []
        for i, b in enumerate(base.tolist()):
            offs, tfs = postings(np.array([i]))
            assert offs.size == cols["n_docs"][i]
            docs_enc.append(varint_encode(np.diff(b + offs.astype(np.int64), prepend=0)))
            tfs_enc.append(varint_encode(tfs))
        pdf = pd.DataFrame({c: cols[c] for c in bm25_mod._BLOCK_COLUMNS})
        pdf = pdf.assign(docs_enc=docs_enc, tfs_enc=tfs_enc, query_id=0, k=k)
        for _ in range(5):
            perm = rng.permutation(n)
            permuted = {c: a[perm] for c, a in cols.items()}
            assert real(permuted, lambda rows: postings(perm[rows]), k, avgdl, dl_root)[0] == want
            top = bm25_mod._wand_frame_kernel(pdf.iloc[perm].reset_index(drop=True), avgdl, dl_root)
            assert list(zip(top["doc_id"].tolist(), top["bm25_score"].tolist())) == want


def test_forced_spark_plan_agrees_with_driver_path(spark, corpus, built):
    """postings_per_task=1 pushes every query that matches two or more
    postings past fan-out 1, onto the Spark plan (it runs jobs); with
    attach_urls it agrees with the driver path's bm25_search on rank,
    doc_id, url and the exact score."""
    _, queries, _, _ = corpus
    cat, _ = built

    def forced_spark(q, k):
        top = attach_urls(bm25_topk_wand(spark, cat, [(0, q, k)], postings_per_task=1), cat).toPandas()
        return top.sort_values("rank").reset_index(drop=True)

    on_spark = 0
    for row in queries.itertuples(index=False):
        driver, driver_jobs = _jobs_in_group(spark, lambda: bm25_search(spark, cat, row.query_text, row.k))
        spark_res, jobs = _jobs_in_group(spark, lambda: forced_spark(row.query_text, row.k))
        assert driver_jobs == [], (row.query_text, driver_jobs)
        if len(driver) > 1:  # matched volume >= 2 > postings_per_task
            assert jobs, row.query_text
            on_spark += 1
        assert spark_res["rank"].tolist() == driver["rank"].tolist()
        assert spark_res["doc_id"].tolist() == driver["doc_id"].tolist()
        assert spark_res["url"].tolist() == driver["url"].tolist()
        assert spark_res["bm25_score"].tolist() == driver["bm25_score"].tolist()
    assert on_spark >= len(queries) // 2, on_spark


@pytest.mark.parametrize("seed", [3, 11])
def test_scores_bit_identical_to_oracle(spark, tmp_path_factory, seed):
    """Every query path returns the oracle's exact floats (==, not a
    tolerance): the driver path, the Spark plan at fan-out 1 (a batch) and
    the Spark plan at fan-out above 1 (postings_per_task=1). Queries with a
    repeated term check that each occurrence adds its own term, in query
    order."""
    from information_retrieval_images_spark.catalog import Catalog
    from information_retrieval_images_spark.oracle import oracle_topk

    pages = fixtures.make_pages_pandas(150, seed=seed)
    queries = fixtures.make_queries_pandas(seed=seed, n_queries=12)
    extra = ["term000000 term000003 term000000", "term000007 term000001 term000007 term000007 term000002"]
    queries = pd.concat(
        [queries, pd.DataFrame({"query_id": [100, 101], "query_text": extra, "k": [10, 10]})], ignore_index=True
    )
    idx = build_oracle_index(pages, lang="en")
    cat = Catalog(spark, str(tmp_path_factory.mktemp(f"exact{seed}")))
    build_index(spark, spark.createDataFrame(pages), cat, n_buckets=2)
    want = {
        int(q.query_id): [(d, s) for d, _, s in oracle_topk(idx, q.query_text, int(q.k))]
        for q in queries.itertuples(index=False)
    }

    def top(df: pd.DataFrame) -> list:
        return list(zip(df["doc_id"].tolist(), df["bm25_score"].tolist()))

    driver = {q: top(bm25_search(spark, cat, text, k)) for q, text, k in queries.itertuples(index=False)}
    assert driver == want
    batch = list(queries.itertuples(index=False, name=None))
    for ppt in (1 << 18, 1):  # fan-out 1, then fan-out above 1
        got = bm25_topk_wand(spark, cat, batch, postings_per_task=ppt).toPandas().sort_values(["query_id", "rank"])
        assert {q: top(got[got["query_id"] == q]) for q in want} == want, ppt



def test_iceberg_postings_take_the_spark_plan(spark, corpus, built, monkeypatch):
    """The driver reads postings version directories, so a catalog whose
    postings are an Iceberg table sends even a fan-out-1 query to the Spark
    plan, through both entry points."""
    from information_retrieval_images_spark.catalog import Catalog
    from information_retrieval_images_spark.operators import bm25 as bm25_mod

    _, queries, _, _ = corpus
    cat, _ = built
    row = queries.iloc[0]
    calls = []
    real_driver = bm25_mod._wand_driver_topk
    empty = spark.createDataFrame([], bm25_mod.RESULT_SCHEMA)
    monkeypatch.setattr(bm25_mod, "_wand_plan", lambda *a: calls.append("spark") or empty)
    monkeypatch.setattr(
        bm25_mod, "_wand_driver_topk", lambda *a, **kw: calls.append("driver") or real_driver(*a, **kw)
    )
    bm25_topk_wand(spark, cat, [(0, row.query_text, int(row.k))])
    bm25_search(spark, cat, row.query_text, int(row.k))
    assert calls == ["driver", "driver"]
    calls.clear()
    monkeypatch.setattr(Catalog, "_is_dir_table", lambda self, name: name != "postings")
    bm25_topk_wand(spark, cat, [(0, row.query_text, int(row.k))])
    bm25_search(spark, cat, row.query_text, int(row.k))
    assert calls == ["spark", "spark"]


def test_single_query_dataframe_plans_no_exchange(spark, corpus, built):
    """A single fan-out-1 query through the DataFrame API is the driver
    path's result as a local DataFrame: zero exchanges, oracle-identical.
    An all-absent query is an empty DataFrame, planned without a job."""
    from information_retrieval_images_spark import plans

    _, queries, _, expected = corpus
    cat, _ = built
    exp = expected[["query_id", "rank", "doc_id", "bm25_score"]]
    for row in queries.head(3).itertuples(index=False):
        df = bm25_topk_wand(spark, cat, [tuple(row)])
        assert plans.count_exchanges(df) == 0, plans.formatted_plan(df)
        _assert_rank_identical(df.toPandas(), exp[exp["query_id"] == row.query_id])
    bm25_topk_wand(spark, cat, [(0, ABSENT_QUERY, 10)])  # cold: term df lookup
    df, jobs = _jobs_in_group(spark, lambda: bm25_topk_wand(spark, cat, [(0, ABSENT_QUERY, 10)]))
    assert jobs == [], jobs
    assert plans.count_exchanges(df) == 0, plans.formatted_plan(df)
    assert df.schema.simpleString() == spark.createDataFrame([], RESULT_SCHEMA).schema.simpleString()
    assert df.toPandas().empty


def test_doclens_cache_is_thread_safe(spark, corpus, built, monkeypatch):
    """Request threads share the driver's cache of postings files, their
    terms' decoded rows and doc groups (doc ids, dls and urls per bucket
    and group). Capped at 32 KB (a few of this index's entries: 5-7 KB per
    file, about 5 KB per group, under 1 KB per term's rows; all of them
    take about 300 KB), fills evict on most queries: 4 threads x 20
    searches see zero errors and oracle-identical ranks, scores and urls,
    and the one byte count equals the bytes of every entry held, of every
    kind, within the bound."""
    from information_retrieval_images_spark.operators import bm25 as bm25_mod

    _, queries, idx, expected = corpus
    cat, _ = built
    monkeypatch.setattr(bm25_mod, "_CACHE", {})
    monkeypatch.setattr(bm25_mod, "_CACHE_BYTES", [0])
    monkeypatch.setattr(bm25_mod, "_CACHE_MAX_BYTES", 32 << 10)
    session = SearchSession(spark, cat.root)
    rows = list(queries.itertuples(index=False))
    for row in rows:  # warm the term dfs: the threads then run no Spark job
        session.search(row.query_text, k=row.k)
    results, errors = [], []

    def client(c):
        for i in range(20):
            row = rows[(c + 4 * i) % len(rows)]
            try:
                results.append((row, session.search(row.query_text, k=row.k)))
            except Exception as e:  # noqa: BLE001 — every error is a failure
                errors.append(e)

    threads = [threading.Thread(target=client, args=(c,)) for c in range(4)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the threads as often as possible
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(switch)
    assert not errors, errors[:3]
    assert len(results) == 80
    exp = expected[["query_id", "rank", "doc_id", "bm25_score"]]
    for row, got in results:
        _assert_rank_identical(_search_frame(got, row.query_id), exp[exp["query_id"] == row.query_id])
        assert [r["url"] for r in got] == [idx.url_of[r["doc_id"]] for r in got]
    held = sum(a.nbytes for value, _ in bm25_mod._CACHE.values() for a in value)
    assert bm25_mod._CACHE_BYTES[0] == held <= 32 << 10
    # postings files are keyed by path, doc groups by (docs directory, group)
    # and decoded term rows by (postings file, term)
    assert {type(key) for key in bm25_mod._CACHE} == {str, tuple}, list(bm25_mod._CACHE)


def test_query_term_guard(spark, built, monkeypatch):
    """The driver-side term collect is bounded: a batch with more distinct
    terms than MAX_QUERY_TERMS fails loudly instead of OOMing the driver."""
    from information_retrieval_images_spark.operators import bm25 as bm25_mod

    cat, _ = built
    monkeypatch.setattr(bm25_mod, "MAX_QUERY_TERMS", 3)
    qdf = spark.createDataFrame(
        [(0, "one two three four five", 10)], "query_id int, query_text string, k int"
    )
    with pytest.raises(ValueError, match="distinct terms"):
        bm25_topk_wand(spark, cat, qdf).count()


@pytest.mark.parametrize("k", [0, -1])
def test_search_rejects_k_below_one(spark, built, k):
    """A top-k needs k >= 1: bm25_search raises ValueError before scoring
    (the kernel's threshold would read the top of an empty heap)."""
    cat, _ = built
    with pytest.raises(ValueError, match="k must be >= 1"):
        bm25_search(spark, cat, "term000000 term000003", k=k)


@pytest.mark.parametrize("k", [0, -1])
def test_topk_wand_rejects_k_below_one(spark, built, k):
    """The batch entry point refuses a batch holding any query with k < 1,
    on the driver path (one query) and the Spark plan (two queries)."""
    cat, _ = built
    with pytest.raises(ValueError, match="k must be >= 1"):
        bm25_topk_wand(spark, cat, [(0, "term000000", k)])
    with pytest.raises(ValueError, match="k must be >= 1"):
        bm25_topk_wand(spark, cat, [(0, "term000000", 10), (1, "term000003", k)])


def test_wand_task_cap_scales_with_parallelism_and_identity_holds(spark, corpus, built):
    """Scale-derived fan-out cap (VERDICT r2 what's-wrong #3): the ceiling
    derives from cluster parallelism (4 waves of defaultParallelism, floored
    at the proven 64), and the per-task budget drives fan-out past the old
    constant while staying rank-identical. Sandbox corpora fit in one 2^14
    doc-group so physical group multiplicity stays 1; this pins the cap
    derivation and the fan-out arithmetic, and runs the engine end-to-end at
    tasks_q > 64 / postings_per_task=1 (max volume-derived fan-out)."""
    from types import SimpleNamespace

    from information_retrieval_images_spark.operators import bm25 as bm25_mod

    big = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=256))
    assert bm25_mod._max_query_fanout(big) == 1024
    assert bm25_mod._max_query_fanout(spark) >= 64
    # a head term with df >> one task's budget fans out beyond 64...
    fan = bm25_mod._task_fanout({7: 10_000_000}, postings_per_task=1 << 10, max_tasks=1024)
    assert fan[7] > 64
    # ...and the cluster-derived cap, not 64, is the ceiling
    assert bm25_mod._task_fanout({7: 10**12}, 1 << 10, 1024)[7] == 1024

    _, queries, _, expected = corpus
    cat, _ = built
    qdf = spark.createDataFrame(queries)
    exp = expected[["query_id", "rank", "doc_id", "bm25_score"]]
    got = bm25_topk_wand(spark, cat, qdf, postings_per_task=1).toPandas()
    _assert_rank_identical(got, exp)


def test_warm_query_skips_metadata_reads(spark, corpus, built):
    """Interactive-latency contract (VERDICT r2 what's-wrong #2): the global
    stats and per-term df are driver-cached per manifest snapshot. A cold
    batch reads the postings twice (the df lookup, then the scan); a warm
    repeat batch reads them once, for the scan alone."""
    _, queries, _, _ = corpus
    cat = Catalog(spark, built[0].root)
    qdf = spark.createDataFrame(queries.head(3))
    reads: list[str] = []
    orig = cat.read
    cat.read = lambda name: (reads.append(name), orig(name))[1]
    bm25_topk_wand(spark, cat, qdf).count()
    assert reads == ["postings", "postings"], reads
    reads.clear()
    bm25_topk_wand(spark, cat, qdf).count()
    assert reads == ["postings"], reads


def test_attach_urls(spark, corpus, built):
    _, queries, idx, expected = corpus
    cat, _ = built
    qdf = spark.createDataFrame(queries.head(3))
    got = attach_urls(bm25_topk_wand(spark, cat, qdf), cat).toPandas()
    for r in got.itertuples():
        assert r.url == idx.url_of[r.doc_id]
