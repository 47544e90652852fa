"""Resumability: kill the build mid-way, resume, assert the final index is
identical to an uninterrupted build (north rule; reference analogue: the
md5-presence idempotent re-run, db.py:113-116 / anti-join db.py:324-339),
and the lifecycle of the build-only stage that resume reads back."""

import os
import threading
import time

import pandas as pd
import pytest

from information_retrieval_images_spark import fixtures
from information_retrieval_images_spark.catalog import Catalog
from information_retrieval_images_spark.operators.index_build import build_index

N_DOCS = 200


def _bucket_commits(cat: Catalog) -> list[dict]:
    """Lineage of the build's bucket commits still in the manifest history."""
    import json
    import os

    out = []
    for n in sorted(os.listdir(cat.path("_manifest"))):
        if n.endswith(".json"):
            with open(os.path.join(cat.path("_manifest"), n)) as f:
                lin = json.load(f)["lineage"]
            if lin.get("job") == "build_index" and "bucket" in lin:
                out.append(lin)
    return out


class KillingCatalog(Catalog):
    """Dies at its ``die_at``-th bucket commit: that bucket's files get
    written but its manifest commit, and every later one, is killed —
    simulating a process killed between data write and commit (the worst
    spot). die_at=1 dies right after the stage commit; the default 2 after
    bucket 0's commit."""

    def __init__(self, spark, root, die_at: int = 2):
        super().__init__(spark, root)
        self.bucket_commits = 0
        self.die_at = die_at
        self.armed = True
        self._lock = threading.Lock()

    def commit(self, lineage, *args, **kwargs):
        if "bucket" in lineage and self.armed:
            with self._lock:
                self.bucket_commits += 1
                if self.bucket_commits >= self.die_at:
                    raise RuntimeError("simulated crash before manifest commit")
        return super().commit(lineage, *args, **kwargs)


def _postings_key(cat: Catalog) -> pd.DataFrame:
    # v (the bucket version id) differs per commit by design
    pdf = cat.read("postings").drop("v").toPandas()
    pdf["docs_enc"] = pdf["docs_enc"].map(bytes)
    pdf["tfs_enc"] = pdf["tfs_enc"].map(bytes)
    return pdf.sort_values(["term", "bucket", "first_doc"]).reset_index(drop=True)


def _docs_key(cat: Catalog) -> pd.DataFrame:
    return cat.read("docs").drop("v").toPandas().sort_values("doc_id").reset_index(drop=True)


def _stage_files(cat: Catalog) -> list[str]:
    return [
        os.path.join(r, f) for r, _, fs in os.walk(cat.root) for f in fs if "_stage" in os.path.relpath(r, cat.root)
    ]


@pytest.fixture(scope="module")
def pages_df(spark):
    return spark.createDataFrame(fixtures.make_pages_pandas(N_DOCS))


@pytest.fixture(scope="module")
def golden(spark, pages_df, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("golden")))
    build_index(spark, pages_df, cat, n_buckets=3)
    return cat


def test_kill_resume_identical(spark, pages_df, golden, tmp_path_factory):
    golden_cat = golden
    cat = KillingCatalog(spark, str(tmp_path_factory.mktemp("killed")))
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index(spark, pages_df, cat, n_buckets=3)
    # crashed state: 1 bucket committed, unreferenced files for the killed one
    assert cat.committed_buckets() == {0}

    cat.armed = False
    metrics = build_index(spark, pages_df, cat, n_buckets=3, resume=True)
    assert metrics["buckets"][0] == "resumed"
    assert metrics["buckets"][1] != "resumed"

    got, want = _postings_key(cat), _postings_key(golden_cat)
    pd.testing.assert_frame_equal(
        got.drop(columns=[]), want, check_like=False
    )
    pd.testing.assert_frame_equal(_docs_key(cat), _docs_key(golden_cat))
    assert cat.committed_buckets() == {0, 1, 2}
    # lineage + metrics recorded per partition batch
    ck = _bucket_commits(cat)
    assert sorted(c["bucket"] for c in ck) == [0, 1, 2]
    assert all(c["n_docs"] > 0 and c["wall_ms"] >= 0 for c in ck)


def test_resume_noop_when_complete(spark, pages_df, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("noop")))
    build_index(spark, pages_df, cat, n_buckets=2)
    before = _postings_key(cat)
    metrics = build_index(spark, pages_df, cat, n_buckets=2, resume=True)
    assert all(v == "resumed" for v in metrics["buckets"].values())
    pd.testing.assert_frame_equal(_postings_key(cat), before)


def test_exists_sees_partitioned_tables(spark, tmp_path_factory):
    """Every index table keeps its files in bucket=N/v=<version> subdirs,
    and exists() reads the manifest's table map, so it finds all of them
    (ADVICE r1 medium finding: a miss silently re-runs every resume path).
    There is no ``stats`` table (a term's df is summed from the postings)
    and no ``doclens`` table (dl is read from ``docs``): a finished build,
    append, delete or compaction leaves neither directory, and the
    manifest's table map holds exactly the three index tables, while the
    manifest keeps its global ``stats``."""
    from information_retrieval_images_spark import INDEX_FORMAT
    from information_retrieval_images_spark.operators.incremental import append_bucket
    from information_retrieval_images_spark.operators.maintenance import compact_buckets, delete_docs

    tables = ("docs", "postings", "blooms")
    pages = fixtures.make_pages_pandas(N_DOCS)
    built, appended = pages.iloc[:150], pages.iloc[150:]
    cat = Catalog(spark, str(tmp_path_factory.mktemp("exists")))

    def assert_three_tables(buckets):
        for t in tables:
            assert cat.exists(t), t
            assert set(cat.version_dirs(t)) == buckets, t
        assert not cat.exists("nope")
        assert not os.path.exists(cat.path("stats"))
        assert not os.path.exists(cat.path("doclens"))
        m = cat.snapshot().manifest
        assert sorted(m["tables"]) == sorted(tables), m["tables"]
        assert m["stats"]["format"] == INDEX_FORMAT

    build_index(spark, spark.createDataFrame(built), cat, n_buckets=2)
    assert_three_tables({0, 1})
    assert append_bucket(spark, spark.createDataFrame(appended), cat, bucket=10)["n_new"] > 0
    assert_three_tables({0, 1, 10})
    victim = built.loc[built["lang"] == "en", "url"].iloc[0]
    assert delete_docs(spark, cat, [victim])["n_deleted"] == 1
    assert_three_tables({0, 1, 10})
    compact_buckets(spark, cat, [10], target_bucket=20)
    assert_three_tables({0, 1, 20})


def _docs_file_state(cat: Catalog) -> dict:
    state = {}
    for root, _, files in os.walk(cat.path("docs")):
        for f in files:
            p = os.path.join(root, f)
            state[p] = os.path.getmtime(p)
    return state


def test_old_format_warehouse_gets_clear_error(spark, pages_df, tmp_path_factory):
    """A warehouse written by an older engine version must fail with a clear
    'rebuild required' message at the stats gate, not a column-not-found
    error deep inside a query plan (ADVICE r3 finding #4): both a manifest
    of an older format and a pre-v6 warehouse with no manifest at all.
    A format-9 manifest may list postings versions that have no directory
    (that format could keep postings outside the warehouse): a read or a
    search fails at the gate, never at a missing path."""
    import json
    import shutil

    from information_retrieval_images_spark.serving import SearchSession

    cat = Catalog(spark, str(tmp_path_factory.mktemp("oldfmt")))
    build_index(spark, pages_df, cat, n_buckets=1)
    latest = os.path.join(cat.path("_manifest"), f"{cat.index_version()}.json")
    with open(latest) as f:
        m = json.load(f)
    for fmt in (8, 9):
        m["stats"]["format"] = fmt
        with open(latest, "w") as f:
            json.dump(m, f)
        if fmt == 9:
            shutil.rmtree(cat.path("postings"))
        with pytest.raises(RuntimeError, match=f"format {fmt} .*rebuild"):
            Catalog(spark, cat.root).global_doc_stats()
        with pytest.raises(RuntimeError, match=f"format {fmt} .*rebuild"):
            SearchSession(spark, cat.root).search("term000000")
    shutil.rmtree(cat.path("_manifest"))
    with pytest.raises(RuntimeError, match="no manifest.*rebuild"):
        Catalog(spark, cat.root).global_doc_stats()


def test_postings_carry_no_per_posting_dls(spark, pages_df, tmp_path_factory):
    """Posting blocks store no per-posting doc lengths, and there is no
    doclens table: dl lives once per document in ``docs``, every file of
    which is sorted by doc_id (the kernels read a doc-group's dl with one
    doc_id range), and whose ids cover every document exactly once."""
    import pyarrow.parquet as pq

    cat = Catalog(spark, str(tmp_path_factory.mktemp("nodls")))
    build_index(spark, pages_df, cat, n_buckets=2)
    assert "dls_enc" not in cat.read("postings").columns
    assert not os.path.exists(cat.path("doclens"))
    ids = []
    for b in sorted(cat.version_dirs("docs")):
        files = cat.version_files("docs", b)
        assert files
        for f in files:
            got = pq.read_table(f, columns=["doc_id", "dl"])["doc_id"].to_pylist()
            assert got == sorted(got), f
            ids.extend(got)
    # a fresh build numbers its documents densely from 0
    n_en = int((fixtures.make_pages_pandas(N_DOCS)["lang"] == "en").sum())
    assert sorted(ids) == list(range(n_en))


def test_resume_reuses_docs_without_reassign(spark, pages_df, tmp_path_factory):
    """'checkpoint #-1': resume must NOT re-run assign_doc_ids — the docs
    table is reused verbatim (ids stable, extraction not repeated). Proven by
    the docs parquet files being bit-untouched across the resume."""
    cat = Catalog(spark, str(tmp_path_factory.mktemp("reuse")))
    build_index(spark, pages_df, cat, n_buckets=2)
    before = _docs_file_state(cat)
    assert before, "docs table missing"
    metrics = build_index(spark, pages_df, cat, n_buckets=2, resume=True)
    assert all(v == "resumed" for v in metrics["buckets"].values())
    assert _docs_file_state(cat) == before


class FailOneCheckpointCatalog(Catalog):
    """Thread-safe: exactly the FIRST bucket commit raises (simulating a
    crash of one bucket pipeline while concurrent pipelines keep running)."""

    def __init__(self, spark, root):
        super().__init__(spark, root)
        import threading

        self._lock = threading.Lock()
        self.armed = True

    def commit(self, lineage, *args, **kwargs):
        if "bucket" in lineage:
            with self._lock:
                if self.armed:
                    self.armed = False
                    raise RuntimeError("simulated crash before manifest commit")
        return super().commit(lineage, *args, **kwargs)


def test_concurrent_bucket_build_kill_resume_identical(spark, pages_df, golden, tmp_path_factory):
    """bucket_concurrency > 1 keeps the commit contract: a crash in one
    bucket pipeline leaves it uncommitted while concurrent pipelines
    commit; resume rebuilds exactly the missing buckets and the final index
    is bit-identical to a serial golden build."""
    golden_cat = golden
    cat = FailOneCheckpointCatalog(spark, str(tmp_path_factory.mktemp("ckilled")))
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index(spark, pages_df, cat, n_buckets=3, bucket_concurrency=2)
    assert len(cat.committed_buckets()) == 2, "the two surviving pipelines committed"

    metrics = build_index(spark, pages_df, cat, n_buckets=3, resume=True, bucket_concurrency=2)
    assert sum(v == "resumed" for v in metrics["buckets"].values()) == 2
    got, want = _postings_key(cat), _postings_key(golden_cat)
    pd.testing.assert_frame_equal(got, want)


def test_concurrent_bucket_build_matches_serial(spark, pages_df, tmp_path_factory):
    """Uninterrupted concurrent build == serial build, bit for bit."""
    a = Catalog(spark, str(tmp_path_factory.mktemp("ser")))
    build_index(spark, pages_df, a, n_buckets=3)
    b = Catalog(spark, str(tmp_path_factory.mktemp("conc")))
    build_index(spark, pages_df, b, n_buckets=3, bucket_concurrency=3)
    pd.testing.assert_frame_equal(_postings_key(a), _postings_key(b))
    assert a.snapshot().stats == b.snapshot().stats


@pytest.mark.parametrize("concurrency", [1, 2])
@pytest.mark.parametrize("die_at", [1, 2])
def test_kill_after_stage_or_bucket_commit_resumes_from_stage(
    spark, pages_df, golden, tmp_path_factory, die_at, concurrency
):
    """A build killed right after its stage commit (die_at=1) or after one
    bucket commit (die_at=2), serial or concurrent, keeps its stage in the
    manifest; resume rebuilds the rest from it — postings bit-identical to
    the golden build, identical docs rows — and the completing commit
    deletes the stage."""
    cat = KillingCatalog(spark, str(tmp_path_factory.mktemp("stagekill")), die_at=die_at)
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index(spark, pages_df, cat, n_buckets=3, bucket_concurrency=concurrency)
    assert len(cat.committed_buckets()) == die_at - 1
    assert cat.snapshot().stage is not None and _stage_files(cat)

    cat.armed = False
    metrics = build_index(spark, pages_df, cat, n_buckets=3, resume=True, bucket_concurrency=concurrency)
    assert sum(v == "resumed" for v in metrics["buckets"].values()) == die_at - 1
    pd.testing.assert_frame_equal(_postings_key(cat), _postings_key(golden))
    pd.testing.assert_frame_equal(_docs_key(cat), _docs_key(golden))
    assert cat.snapshot().stage is None
    assert _stage_files(cat) == []


def test_no_stage_files_after_build_and_append(spark, tmp_path_factory):
    """The stage lives only while a build or an append runs: afterwards no
    file of it remains anywhere under the warehouse root."""
    from information_retrieval_images_spark.operators.incremental import append_bucket

    pdf = fixtures.make_pages_pandas(N_DOCS)
    cat = Catalog(spark, str(tmp_path_factory.mktemp("nostage")))
    build_index(spark, spark.createDataFrame(pdf.iloc[:150]), cat, n_buckets=2, bucket_concurrency=2)
    assert cat.snapshot().stage is None
    assert _stage_files(cat) == []
    assert append_bucket(spark, spark.createDataFrame(pdf.iloc[150:]), cat, bucket=9)["n_new"] > 0
    assert _stage_files(cat) == []


def test_fresh_build_drops_a_crashed_builds_stage(spark, pages_df, tmp_path_factory):
    cat = KillingCatalog(spark, str(tmp_path_factory.mktemp("restage")), die_at=1)
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index(spark, pages_df, cat, n_buckets=2)
    old = cat.stage_path(cat.snapshot().stage)
    assert os.path.isdir(old)

    cat.armed = False
    build_index(spark, pages_df, cat, n_buckets=2)
    assert not os.path.exists(old)
    assert _stage_files(cat) == []


def test_vacuum_removes_a_crashed_appends_stage_after_grace(spark, pages_df, tmp_path_factory, monkeypatch):
    """An append killed hard leaves its stage behind, recorded nowhere: the
    vacuum keeps it through the grace period (the append might still be
    running) and deletes it after."""
    from information_retrieval_images_spark import catalog as catalog_mod
    from information_retrieval_images_spark.operators.index_build import stage_docs

    cat = Catalog(spark, str(tmp_path_factory.mktemp("appstage")))
    build_index(spark, pages_df.limit(60), cat, n_buckets=1)
    leftover = cat.new_version()
    assert stage_docs(cat, pages_df.select("url", "html").limit(5), leftover, n_buckets=1, fixed_bucket=7) is not None

    cat.commit({"job": "probe"})
    assert os.path.isdir(cat.stage_path(leftover))
    later = time.time() + catalog_mod.VACUUM_GRACE_MINUTES * 60 + 60
    monkeypatch.setattr(catalog_mod, "_now", lambda: later)
    cat.commit({"job": "probe"})
    assert not os.path.exists(cat.stage_path(leftover))
