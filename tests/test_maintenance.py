"""Row-level delete/upsert (SURVEY K4/K5, reference vector_db.py:54-91):
after deleting or replacing documents, the engine ranks exactly as an
oracle over the post-edit corpus — and only the affected buckets rewrite.
Delete and compaction re-encode from decoded postings, bit-identical to a
fresh encode of the surviving documents."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from information_retrieval_images_spark import fixtures
from information_retrieval_images_spark.catalog import Catalog
from information_retrieval_images_spark.operators.bm25 import attach_urls, bm25_topk_wand
from information_retrieval_images_spark.operators.index_build import build_index
from information_retrieval_images_spark.operators.maintenance import delete_docs, upsert_docs
from information_retrieval_images_spark.oracle import build_oracle_index, oracle_topk
from test_resume import _postings_key

N_DOCS = 200
QUERIES = ["term000000", "term000003 term000120", "term000401 term000000"]


def _rank_urls(spark, cat, query_text, k=10):
    qdf = spark.createDataFrame([(0, query_text, k)], "query_id int, query_text string, k int")
    got = attach_urls(bm25_topk_wand(spark, cat, qdf), cat).toPandas().sort_values("rank")
    return list(zip(got["url"], got["bm25_score"]))


def _assert_matches_oracle(spark, cat, corpus_pdf):
    idx = build_oracle_index(corpus_pdf, lang="en")
    for qtext in QUERIES:
        want = [(url, score) for _, url, score in oracle_topk(idx, qtext, k=10)]
        got = _rank_urls(spark, cat, qtext)
        assert got == want, qtext


def _fresh_postings_key(spark, root, pages, docs, bucket):
    """_postings_key of ``bucket`` freshly encoded: the docs rows'
    text re-extracted from ``pages``, under the same doc ids, through the
    build's encoder."""
    from information_retrieval_images_spark.operators.index_build import (
        STAGE_SCHEMA,
        encode_bucket_postings,
        posting_runs,
    )
    from information_retrieval_images_spark.textproc import extract_text_series

    html = dict(zip(pages["url"], pages["html"]))
    rows = pd.DataFrame(
        {
            "doc_id": docs["doc_id"].to_numpy(),
            "url": docs["url"].to_numpy(),
            "dl": docs["dl"].to_numpy(),
            "text": extract_text_series(pd.Series([html[u] for u in docs["url"]])).to_numpy(),
            "bucket": bucket,
        }
    )
    rows = spark.createDataFrame(rows, STAGE_SCHEMA)
    ref = Catalog(spark, root)
    encode_bucket_postings(ref, posting_runs(rows), rows, bucket, 8, 16, version="ref", n_keys=len(docs))
    ref.commit({"job": "fresh encode"}, tables={"postings": {bucket: "ref"}})
    return _postings_key(ref)


def _assert_bucket_bit_identical(spark, cat, tmp_path_factory, pages, bucket):
    docs = cat.read("docs").where(F.col("bucket") == bucket).select("doc_id", "url", "dl").toPandas()
    key = _postings_key(cat)
    got = key[key["bucket"] == bucket].reset_index(drop=True)
    want = _fresh_postings_key(spark, str(tmp_path_factory.mktemp("fresh")), pages, docs, bucket)
    pd.testing.assert_frame_equal(got, want)


@pytest.fixture(scope="module")
def corpus():
    return fixtures.make_pages_pandas(N_DOCS)


def test_delete_matches_rebuilt_oracle(spark, corpus, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("del")))
    build_index(spark, spark.createDataFrame(corpus), cat, n_buckets=3)
    en = corpus[corpus["lang"] == "en"]
    victims = en["url"].iloc[[0, 7, 13, 25, 40]].tolist()

    res = delete_docs(spark, cat, victims)
    assert res["n_deleted"] == len(victims)
    # docs gone, postings/stats consistent with the remaining corpus
    left = cat.read("docs").where(F.col("url").isin(victims)).count()
    assert left == 0
    remaining = corpus[~corpus["url"].isin(victims)]
    _assert_matches_oracle(spark, cat, remaining)
    # each rewritten bucket == a fresh encode of its surviving documents
    for b in res["buckets"]:
        _assert_bucket_bit_identical(spark, cat, tmp_path_factory, corpus, b)
    # idempotent: deleting the same urls again is a no-op
    res2 = delete_docs(spark, cat, victims)
    assert res2["n_deleted"] == 0


def test_delete_touches_only_affected_buckets(spark, corpus, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("delb")))
    build_index(spark, spark.createDataFrame(corpus), cat, n_buckets=4)
    docs = cat.read("docs").select("url", "bucket").toPandas()
    # victims all from one bucket
    b0 = docs[docs["bucket"] == 2]["url"].iloc[:3].tolist()

    def mtimes(table, bucket):
        root = os.path.join(cat.path(table), f"bucket={bucket}")
        return {
            os.path.join(r, f): os.path.getmtime(os.path.join(r, f))
            for r, _, fs in os.walk(root)
            for f in fs
        }

    before = {b: mtimes("postings", b) for b in (0, 1, 3)}
    res = delete_docs(spark, cat, b0)
    assert res["buckets"] == [2]
    for b in (0, 1, 3):
        assert mtimes("postings", b) == before[b], f"bucket {b} rewritten needlessly"


def test_compact_buckets_preserves_ranking(spark, corpus, tmp_path_factory):
    """Three streaming-style appends then compaction into one bucket: same
    ranking, same stats, fewer buckets (the small-file maintenance op)."""
    from information_retrieval_images_spark.operators.incremental import append_bucket
    from information_retrieval_images_spark.operators.maintenance import compact_buckets

    a, b, c, d = corpus.iloc[:80], corpus.iloc[80:120], corpus.iloc[120:160], corpus.iloc[160:]
    cat = Catalog(spark, str(tmp_path_factory.mktemp("cmp")))
    build_index(spark, spark.createDataFrame(a), cat, n_buckets=1)
    for i, part in enumerate((b, c, d)):
        append_bucket(spark, spark.createDataFrame(part), cat, bucket=1000 + i)
    assert cat.read("postings").select("bucket").distinct().count() == 4

    res = compact_buckets(spark, cat, [1000, 1001, 1002], target_bucket=2000)
    assert res["n_moved"] == (corpus.iloc[80:]["lang"] == "en").sum()
    buckets_after = {r["bucket"] for r in cat.read("postings").select("bucket").distinct().collect()}
    assert buckets_after == {0, 2000}
    # per-term df identical to a full rebuild's and to the oracle's
    rebuilt = Catalog(spark, str(tmp_path_factory.mktemp("cmpreb")))
    build_index(spark, spark.createDataFrame(corpus), rebuilt, n_buckets=2)

    def df_map(cc):
        """Catalog.term_dfs over the oracle's whole vocabulary plus a term
        that is not indexed, from a fresh catalog (no memo)."""
        return Catalog(spark, cc.root).term_dfs([*idx.postings, "zzz-not-indexed"])

    idx = build_oracle_index(corpus, lang="en")
    want = {**{t: len(plist) for t, plist in idx.postings.items()}, "zzz-not-indexed": 0}
    assert df_map(rebuilt) == want
    assert df_map(cat) == want
    _assert_matches_oracle(spark, cat, corpus)
    # the merged target == a fresh encode of the union of the sources
    _assert_bucket_bit_identical(spark, cat, tmp_path_factory, corpus, 2000)
    # target must be fresh
    with pytest.raises(ValueError, match="not fresh"):
        compact_buckets(spark, cat, [0], target_bucket=2000)


def test_delete_then_compact_matches_oracle(spark, corpus, tmp_path_factory):
    """Delete from a built and two appended buckets, then compact the
    appended ones: the merge drops nothing more and the index ranks exactly
    like an oracle over the surviving pages."""
    from information_retrieval_images_spark.operators.incremental import append_bucket
    from information_retrieval_images_spark.operators.maintenance import compact_buckets

    cat = Catalog(spark, str(tmp_path_factory.mktemp("delcmp")))
    build_index(spark, spark.createDataFrame(corpus.iloc[:120]), cat, n_buckets=1)
    append_bucket(spark, spark.createDataFrame(corpus.iloc[120:160]), cat, bucket=10)
    append_bucket(spark, spark.createDataFrame(corpus.iloc[160:]), cat, bucket=11)
    en = corpus[corpus["lang"] == "en"]
    victims = en["url"].iloc[[1, 90, 100, 120, 130]].tolist()
    assert delete_docs(spark, cat, victims)["n_deleted"] == len(victims)
    compact_buckets(spark, cat, [10, 11], target_bucket=20)
    assert cat.committed_buckets() == {0, 20}
    _assert_matches_oracle(spark, cat, corpus[~corpus["url"].isin(victims)])


def test_delete_and_append_update_stats_incrementally(spark, corpus, tmp_path_factory, monkeypatch):
    """Global stats after delete/append equal a from-scratch rebuild's even
    though neither op runs a full-corpus aggregate anymore (VERDICT r2
    what's-wrong #1): (N, sum dl) maintained by bucket-scoped deltas,
    max_doc_id never reused."""
    from information_retrieval_images_spark.operators import maintenance
    from information_retrieval_images_spark.operators.incremental import append_bucket

    cat = Catalog(spark, str(tmp_path_factory.mktemp("incstats")))
    a, b = corpus.iloc[:150], corpus.iloc[150:]
    build_index(spark, spark.createDataFrame(a), cat, n_buckets=2)
    en_a = a[a["lang"] == "en"]
    victims = en_a["url"].iloc[[2, 5]].tolist()
    before = cat.snapshot()
    n0, sum0, _ = cat.global_doc_stats()
    dl_gone = cat.read("docs").where(F.col("url").isin(victims)).agg(F.sum("dl")).collect()[0][0]
    joins, locate = [], maintenance._locate_join
    monkeypatch.setattr(maintenance, "_locate_join", lambda *args: joins.append(1) or locate(*args))
    res = delete_docs(spark, cat, victims)
    assert joins == [1]  # one url join locates; the surviving rows are a doc_id filter
    # the committed stats are the base's minus the deleted docs' deltas;
    # max_doc_id is kept, and only the hit buckets get a new version
    snap = cat.snapshot()
    n1, sum1 = n0 - 2, sum0 - dl_gone
    assert res["n_deleted"] == 2 and res["n_docs"] == n1 and res["avgdl"] == sum1 / n1
    assert snap.stats == dict(before.stats, n_docs=n1, sum_dl=sum1, avgdl=sum1 / n1)
    assert snap.manifest["lineage"]["job"] == "delete_docs"
    for bk in (0, 1):
        assert snap.tables["docs"][bk] == snap.tables["postings"][bk]
        assert (snap.tables["docs"][bk] != before.tables["docs"][bk]) == (bk in res["buckets"])
    max_after_delete = cat.global_doc_stats()[2]
    append_bucket(spark, spark.createDataFrame(b), cat, bucket=7000)

    post = pd.concat([a[~a["url"].isin(victims)], b], ignore_index=True)
    idx = build_oracle_index(post, lang="en")
    n_docs, sum_dl, _ = cat.global_doc_stats()
    assert n_docs == idx.n_docs
    assert cat.global_query_stats()[1] == idx.avgdl
    assert sum_dl == cat.read("docs").agg(F.sum("dl")).collect()[0][0]
    # appended ids start strictly after the pre-delete max (no id reuse)
    min_new = cat.read("docs").where(F.col("bucket") == 7000).agg(F.min("doc_id")).collect()[0][0]
    assert min_new > max_after_delete
    _assert_matches_oracle(spark, cat, post)


def test_upsert_lang_mismatch_keeps_old_version(spark, corpus, tmp_path_factory):
    """Regression (ADVICE r2): an upsert whose new version fails the lang
    filter must NOT delete the old version — the old doc stays indexed."""
    cat = Catalog(spark, str(tmp_path_factory.mktemp("upslang")))
    build_index(spark, spark.createDataFrame(corpus), cat, n_buckets=2)
    en = corpus[corpus["lang"] == "en"]
    victim_url = en["url"].iloc[3]
    new_version = en.iloc[[3]].copy()
    new_version["lang"] = "de"  # fails the lang="en" filter

    res = upsert_docs(spark, spark.createDataFrame(new_version), cat, bucket=6000)
    assert res["n_replaced"] == 0 and res["n_new"] == 0
    assert cat.read("docs").where(F.col("url") == victim_url).count() == 1
    # index still ranks exactly as the untouched corpus
    _assert_matches_oracle(spark, cat, corpus)


def test_upsert_replaces_content(spark, corpus, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("ups")))
    build_index(spark, spark.createDataFrame(corpus), cat, n_buckets=2)
    en = corpus[corpus["lang"] == "en"]
    # replace 3 documents' content with pages from a different seed, and add 2 new ones
    donor = fixtures.make_pages_pandas(N_DOCS + 20, seed=777).iloc[N_DOCS:]
    donor = donor[donor["lang"] == "en"]
    replaced = en.iloc[[1, 4, 9]].copy()
    replaced["html"] = donor["html"].iloc[:3].values
    replaced["text"] = donor["text"].iloc[:3].values
    added = donor.iloc[3:5]
    upsert_pdf = pd.concat([replaced, added], ignore_index=True)

    res = upsert_docs(spark, spark.createDataFrame(upsert_pdf), cat, bucket=5000)
    assert res["n_replaced"] == 3
    assert res["n_new"] == len(upsert_pdf)

    # oracle over the post-upsert corpus
    post = corpus[~corpus["url"].isin(replaced["url"])]
    post = pd.concat([post, upsert_pdf], ignore_index=True)
    _assert_matches_oracle(spark, cat, post)


def test_upsert_consults_blooms_via_driver_url_list(spark, corpus, tmp_path_factory, monkeypatch):
    """VERDICT r4 what's-wrong #4: upsert's delete phase must take the
    driver-list path (bloom-prunable), not the DataFrame path (which skips
    the bloom probe and pays a full locate scan). An upsert whose urls are
    absent from every bloom must run ZERO locate jobs — same read guard as
    test_blooms."""
    from information_retrieval_images_spark.operators import maintenance

    cat = Catalog(spark, str(tmp_path_factory.mktemp("upsbloom")))
    build_index(spark, spark.createDataFrame(corpus), cat, n_buckets=2)

    seen_types = []
    orig_delete = maintenance.delete_docs

    def spy(sp, c, urls, **kw):
        seen_types.append(type(urls))
        if isinstance(urls, list):
            # the bloom short-circuit must not touch the docs table
            orig_read = c.read

            def guarded(name):
                assert name != "docs", "absent-url upsert delete must not scan docs"
                return orig_read(name)

            c.read = guarded
            try:
                return orig_delete(sp, c, urls, **kw)
            finally:
                c.read = orig_read
        return orig_delete(sp, c, urls, **kw)

    monkeypatch.setattr(maintenance, "delete_docs", spy)
    donor = fixtures.make_pages_pandas(N_DOCS + 40, seed=991).iloc[N_DOCS + 20 :]
    donor = donor[donor["lang"] == "en"]  # all-new urls, absent from every bloom
    res = upsert_docs(spark, spark.createDataFrame(donor), cat, bucket=6000)
    assert seen_types == [list]
    assert res["n_replaced"] == 0
    assert res["n_new"] == len(donor)


def test_pending_from_manifest_bounded_to_stream_range(spark, tmp_path_factory):
    """ADVICE r4 #1: stream restart recovery must not sweep HTTP-ingest
    buckets (>= serving.HTTP_INGEST_BUCKET_START) into the stream's
    compaction backlog — bucket namespaces are disjoint by contract."""
    from information_retrieval_images_spark.serving import HTTP_INGEST_BUCKET_START
    from information_retrieval_images_spark.streaming import pending_from_manifest

    cat = Catalog(spark, str(tmp_path_factory.mktemp("pend")))
    start = 1_000_000
    for b in (0, start + 1, start + 2, HTTP_INGEST_BUCKET_START):  # build, 2 stream batches, http ingest
        cat.commit({"job": "append_bucket"}, tables={"postings": {b: "v1"}})
    # an earlier compaction consumed start+1 into start-1
    cat.commit({"job": "compact_buckets"}, tables={"postings": {start + 1: None, start - 1: "v2"}})
    assert pending_from_manifest(cat, start) == [start + 2]


def test_locate_join_broadcast_only_on_bounded_path(spark):
    """VERDICT r5 next-round #2 done-bar: the delete locate join broadcasts
    the url frame ONLY for driver-list (bounded) url sets; DataFrame-shaped
    sets are left to AQE/Catalyst (no unconditional hint — with auto-
    broadcast disabled the plan must not build a broadcast side)."""
    from information_retrieval_images_spark import plans
    from information_retrieval_images_spark.operators.maintenance import _locate_join

    docs = spark.range(0, 1000).selectExpr(
        "concat('https://s.example/', id) AS url",
        "cast(id % 3 as int) AS bucket",
        "cast(10 as int) AS dl",
    )
    urls = spark.range(0, 500).selectExpr("concat('https://s.example/', id) AS url")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert not plans.has_broadcast_join(_locate_join(docs, urls, bounded=False)), (
            "DataFrame-shaped url set must not be force-broadcast"
        )
        assert plans.has_broadcast_join(_locate_join(docs, urls, bounded=True)), (
            "bounded driver-list path should keep the explicit broadcast"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _crash_next_encode(monkeypatch):
    """Make the next bucket encode of a delete or compaction raise: the op
    dies after its docs version is written, before postings and the
    manifest commit."""
    from information_retrieval_images_spark.operators import maintenance

    class Killed(Exception):
        pass

    orig = maintenance.encode_bucket_postings

    def once(*a, **k):
        monkeypatch.setattr(maintenance, "encode_bucket_postings", orig)
        raise Killed()

    monkeypatch.setattr(maintenance, "encode_bucket_postings", once)
    return Killed


def test_delete_crash_then_retry_matches_oracle(spark, corpus, tmp_path_factory, monkeypatch):
    """A delete killed mid-write commits nothing; its retry deletes the
    victims and the index ranks like the oracle without them."""
    cat = Catalog(spark, str(tmp_path_factory.mktemp("delcrash")))
    build_index(spark, spark.createDataFrame(corpus), cat, n_buckets=3)
    victims = corpus[corpus["lang"] == "en"]["url"].iloc[[0, 7, 54]].tolist()
    killed = _crash_next_encode(monkeypatch)
    with pytest.raises(killed):
        delete_docs(spark, cat, victims)
    _assert_matches_oracle(spark, cat, corpus)  # the crashed delete is invisible

    res = delete_docs(spark, cat, victims)
    assert res["n_deleted"] == len(victims)
    assert cat.read("docs").where(F.col("url").isin(victims)).count() == 0
    _assert_matches_oracle(spark, cat, corpus[~corpus["url"].isin(victims)])


def test_compact_crash_then_retry_and_append(spark, corpus, tmp_path_factory, monkeypatch):
    """A compaction killed mid-write commits nothing; its retry succeeds, a
    later append still works, and the index ranks like the oracle."""
    from information_retrieval_images_spark.operators.incremental import append_bucket
    from information_retrieval_images_spark.operators.maintenance import compact_buckets

    a, b, c = corpus.iloc[:100], corpus.iloc[100:150], corpus.iloc[150:]
    cat = Catalog(spark, str(tmp_path_factory.mktemp("cmpcrash")))
    build_index(spark, spark.createDataFrame(a), cat, n_buckets=1)
    append_bucket(spark, spark.createDataFrame(b.iloc[:25]), cat, bucket=500)
    append_bucket(spark, spark.createDataFrame(b.iloc[25:]), cat, bucket=501)
    killed = _crash_next_encode(monkeypatch)
    with pytest.raises(killed):
        compact_buckets(spark, cat, [500, 501], target_bucket=600)
    assert cat.committed_buckets() == {0, 500, 501}

    res = compact_buckets(spark, cat, [500, 501], target_bucket=600)
    assert res["n_moved"] == (b["lang"] == "en").sum()
    assert cat.committed_buckets() == {0, 600}
    append_bucket(spark, spark.createDataFrame(c), cat, bucket=502)
    assert cat.committed_buckets() == {0, 502, 600}
    _assert_matches_oracle(spark, cat, corpus)
