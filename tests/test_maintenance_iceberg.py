"""Contract tests for the Iceberg branches of row-level maintenance
(delete_docs / compact_buckets / encode_bucket_postings) and of the bucket
commit (write_bucket) that build, append, delete and compaction share. No Iceberg runtime
jar exists in this sandbox, so these paths can never execute for real here —
the tests pin the exact SQL/action call sequence a cluster deployment runs
(VERDICT r2 missing #1), the same style as test_catalog_iceberg.py.

A real SparkContext must be active (the ``spark`` fixture) so that
pyspark.sql.functions expressions (F.col/F.lit) used inside the operators can
be constructed; all IO goes through MagicMocks.
"""

import os
import time
from unittest.mock import MagicMock

import pytest

from information_retrieval_images_spark.catalog import Catalog
from information_retrieval_images_spark.operators import index_build, maintenance


STATS = dict(n_docs=10, sum_dl=100, avgdl=10.0, max_doc_id=9, p_logical=1024, tp_n=16)


@pytest.fixture()
def icat(spark, tmp_path):
    """Catalog on a MagicMock session that 'has' Iceberg. Its manifest (real
    files under tmp_path, as in both catalog modes) holds the global stats,
    so the incremental-stats reads work driver-side."""
    ms = MagicMock(name="spark")
    ms.conf.get.return_value = "8"
    tables = {}
    ms.table.side_effect = lambda name: tables.setdefault(name, MagicMock(name=f"{name}_tbl"))
    cat = Catalog(ms, str(tmp_path))
    assert cat.use_iceberg
    cat.commit({"job": "seed"}, stats=STATS)
    return cat, ms, tables


def _commit_buckets(cat, buckets):
    """Seed committed buckets (past any commit logger on the instance):
    Iceberg postings rows and, as in both catalog modes, docs version
    directories. Returns the session's mock of their docs read."""
    Catalog.commit(cat, {"job": "seed"}, tables={t: {b: "v0" for b in buckets} for t in ("docs", "postings")})
    for b in buckets:
        os.makedirs(cat.version_path("docs", b, "v0"))
    return cat.spark.read.option.return_value.parquet.return_value


def _sql_calls(ms):
    return [c.args[0] for c in ms.sql.call_args_list]


def test_delete_docs_iceberg_sql_sequence(icat, monkeypatch):
    cat, ms, _ = icat
    # url locator + delta job: urls hit bucket 1 (2 docs, 20 tokens)
    docs = _commit_buckets(cat, [0, 1])
    docs.join.return_value.groupBy.return_value.agg.return_value.collect.return_value = [
        {"bucket": 1, "total": 5, "n": 2, "s": 20, "ids": [3, 4]}
    ]
    monkeypatch.setattr(maintenance.F, "broadcast", lambda df: df)
    decoded, encoded = [], []
    monkeypatch.setattr(maintenance, "decoded_runs", lambda c, postings, drop=(): decoded.append(drop) or "runs")
    monkeypatch.setattr(
        maintenance,
        "encode_bucket_postings",
        lambda c, runs, docs, b, np_, tp_n, **kw: encoded.append((runs, docs, b, kw["n_keys"])),
    )

    out = maintenance.delete_docs(ms, cat, ["http://a", "http://b"])

    # no docs DML: docs is a manifest-pinned version in both catalog modes,
    # so the delete issues no SQL at all (its postings DELETE runs inside
    # the encoder's bucket write)
    assert _sql_calls(ms) == []
    # incremental stats: 10-2 docs, (100-20)/8 avgdl — no full-corpus agg
    assert out["n_deleted"] == 2 and out["n_docs"] == 8 and out["avgdl"] == 10.0
    # only the hit bucket is re-encoded, from its postings minus the deleted
    # ids and its docs rows minus the same ids (a doc_id filter, no url join)
    assert decoded == [[3, 4]]
    assert encoded == [("runs", docs.where.return_value, 1, 3)]
    docs.join.return_value.groupBy.assert_called_once_with("bucket")
    assert docs.join.call_count == 1
    # the manifest commit carries the delta'd stats (max preserved) and the
    # bucket's new version
    from information_retrieval_images_spark import INDEX_FORMAT

    snap = cat.snapshot()
    assert snap.stats == dict(STATS, n_docs=8, sum_dl=80, avgdl=10.0, format=INDEX_FORMAT)
    assert snap.manifest["lineage"]["job"] == "delete_docs"
    assert snap.tables["docs"][1] == snap.tables["postings"][1] != "v0"
    assert snap.tables["docs"][0] == "v0"


def test_compact_buckets_iceberg_sql_sequence(icat, monkeypatch):
    cat, ms, _ = icat
    docs = _commit_buckets(cat, [1000000, 1000001])
    docs.where.return_value.count.return_value = 5
    log = []
    ms.sql.side_effect = lambda q: log.append(q)
    monkeypatch.setattr(maintenance, "decoded_runs", lambda c, postings, drop=(): "runs")
    monkeypatch.setattr(
        maintenance,
        "encode_bucket_postings",
        lambda c, runs, docs, b, np_, tp_n, **kw: log.append(("encode", runs, docs, b)),
    )

    out = maintenance.compact_buckets(ms, cat, [1000000, 1000001], 999999)

    # the target merges the sources' decoded postings once, BEFORE their
    # postings rows are DELETEd; the moved docs rows (bucket = target) go
    # through the encoder as the target version's docs, with no docs DML
    moved = docs.where.return_value.withColumn.return_value
    assert log == [
        ("encode", "runs", moved, 999999),
        "DELETE FROM postings WHERE bucket IN (1000000, 1000001)",
    ]
    assert docs.where.return_value.withColumn.call_args.args[0] == "bucket"
    assert out["n_moved"] == 5 and out["target"] == 999999
    # one manifest commit adds the target and retires the sources
    assert cat.committed_buckets() == {999999}
    assert set(cat.snapshot().tables["docs"]) == {999999}


def test_compact_target_freshness_guard_still_applies(icat, monkeypatch):
    cat, ms, _ = icat
    _commit_buckets(cat, [999999])
    with pytest.raises(ValueError, match="not fresh"):
        maintenance.compact_buckets(ms, cat, [1000000], 999999)


def _log_commits(cat, ms, monkeypatch, existing=("postings",)):
    """Record the commit sequence as ("sql", stmt) / ("append", table) /
    ("commit", "manifest") entries. ``existing`` are the tables the mocked
    catalog reports present. The url bloom writes plain parquet in both
    catalog modes and is stubbed out; the docs write (plain parquet too)
    goes to the mocked bucket docs frame."""
    from information_retrieval_images_spark import blooms

    log = []
    ms.sql.side_effect = lambda q: log.append(("sql", q)) or MagicMock()
    ms.catalog.tableExists.side_effect = lambda name: name in existing
    append = cat.append
    monkeypatch.setattr(cat, "append", lambda df, name: log.append(("append", name)) or append(df, name))
    commit = cat.commit
    monkeypatch.setattr(cat, "commit", lambda *a, **k: log.append(("commit", "manifest")) or commit(*a, **k))
    monkeypatch.setattr(blooms, "write_bucket_bloom", lambda c, docs, b, version, n_keys: None)
    return log


def _commits(log):
    """The log's DELETEs, appends and manifest commits, in order; the
    appends of one bucket version write as one set."""
    out = []
    for e in log:
        if e[0] == "append":
            if not out or not isinstance(out[-1], set):
                out.append(set())
            out[-1].add(e[1])
        elif e[0] == "commit" or e[1].startswith("DELETE"):
            out.append(e)
    return out


def test_encode_bucket_postings_iceberg_deletes_before_append(icat, monkeypatch):
    """Crash-retry idempotency (ADVICE r2): the bucket commit (write_bucket)
    DELETEs the bucket's existing postings rows before appending the
    re-encoded rows — a plain append would double the bucket's df and BM25
    contributions. The docs rows need no DELETE: they are written, sorted
    by doc_id, to the version's own directory."""
    cat, ms, _ = icat
    log = _log_commits(cat, ms, monkeypatch)
    monkeypatch.setattr(index_build, "encode_blocks", lambda runs: MagicMock(name="blocks"))
    docs = MagicMock(name="docs")

    index_build.encode_bucket_postings(cat, MagicMock(name="runs"), docs, 3, 8, 16, version="v1", n_keys=5)

    assert _commits(log) == [
        ("sql", "DELETE FROM postings WHERE bucket = 3"),
        {"postings"},
    ]
    rows = docs.where.return_value.select.return_value
    docs.where.return_value.select.assert_called_once_with("doc_id", "url", "dl")
    rows.sortWithinPartitions.assert_called_once_with("doc_id")
    rows.sortWithinPartitions.return_value.write.parquet.assert_called_once_with(cat.version_path("docs", 3, "v1"))


def _mock_build(icat, monkeypatch, done_buckets):
    """A 2-bucket Iceberg build over mocked tables: the stage (plain
    parquet in both catalog modes) holds 5 docs per bucket and is recorded
    in the manifest, ``done_buckets`` already committed."""
    cat, _, _ = icat
    stage = MagicMock(name="stage")
    stage.groupBy.return_value.agg.return_value.collect.return_value = [
        {"bucket": b, "nd": 5, "toks": 50, "mx": 5 * b + 4} for b in (0, 1)
    ]
    Catalog.commit(cat, {"job": "seed"}, tables={"postings": {b: "v0" for b in done_buckets}}, stage="s0")
    monkeypatch.setattr(index_build, "stage_docs", lambda *a, **kw: stage)
    monkeypatch.setattr(cat, "read_stage", lambda version: stage)
    monkeypatch.setattr(index_build, "posting_runs", lambda docs: MagicMock(name="runs"))
    monkeypatch.setattr(index_build, "encode_blocks", lambda runs: MagicMock(name="blocks"))


def test_resumed_build_iceberg_deletes_crashed_bucket_before_append(icat, monkeypatch):
    """Resume after a crash between bucket 1's postings append and its
    manifest commit: bucket 1 is rebuilt, and its leftover postings rows
    are DELETEd before the re-encoded rows are appended (a plain append
    would count the bucket twice). Committed bucket 0 is not touched."""
    cat, ms, _ = icat
    log = _log_commits(cat, ms, monkeypatch, existing=("postings",))
    _mock_build(icat, monkeypatch, done_buckets=[0])

    metrics = index_build.build_index(ms, MagicMock(name="pages"), cat, n_buckets=2, resume=True)

    assert metrics["buckets"][0] == "resumed"
    assert _commits(log) == [
        ("sql", "DELETE FROM postings WHERE bucket = 1"),
        {"postings"},
        ("commit", "manifest"),
    ]
    assert cat.snapshot().stage is None  # the completing commit retired it


def test_fresh_build_iceberg_issues_no_delete(icat, monkeypatch):
    """A fresh build drops every index table first, so the bucket commit
    finds no postings table and issues no DELETE."""
    cat, ms, _ = icat
    log = _log_commits(cat, ms, monkeypatch, existing=())
    _mock_build(icat, monkeypatch, done_buckets=[])

    index_build.build_index(ms, MagicMock(name="pages"), cat, n_buckets=1)

    assert "DROP TABLE IF EXISTS postings" in [q for kind, q in log if kind == "sql"]
    assert _commits(log) == [
        ("commit", "manifest"),  # stage + global stats
        {"postings"},
        ("commit", "manifest"),  # the bucket
    ]


def test_fresh_build_iceberg_creates_each_table_once(icat, monkeypatch):
    """A fresh build drops every table, so the first append to each table
    creates it. With two bucket pipelines appending concurrently, each table
    is created exactly once and nothing appends to a table before its
    create."""
    from information_retrieval_images_spark import blooms

    cat, ms, _ = icat
    created, log = set(), []

    class _Writer:
        def __init__(self, name):
            self.name = name

        def create(self):
            time.sleep(0.1)  # hold the check-then-create window open
            created.add(self.name)
            log.append(("create", self.name))

        def append(self):
            assert self.name in created, f"append to {self.name} before its create"
            log.append(("append", self.name))

    ms.catalog.tableExists.side_effect = lambda name: name in created
    append = cat.append

    def recording_append(df, name):
        df = MagicMock(name=f"{name}_df")
        df.writeTo.side_effect = _Writer
        append(df, name)

    monkeypatch.setattr(cat, "append", recording_append)
    monkeypatch.setattr(blooms, "write_bucket_bloom", lambda c, docs, b, version, n_keys: None)
    _mock_build(icat, monkeypatch, done_buckets=[])

    index_build.build_index(ms, MagicMock(name="pages"), cat, n_buckets=2, bucket_concurrency=2)

    tables = ["postings"]
    assert sorted(n for kind, n in log if kind == "create") == tables
    assert sorted(n for kind, n in log if kind == "append") == tables
    for t in tables:
        assert next(kind for kind, n in log if n == t) == "create", log


def test_write_bucket_iceberg_appends_both_tables(icat, monkeypatch):
    """The bucket write's Iceberg contract for its two tables: postings are
    a tp-clustered (r6), sorted frame with the bucket and version columns,
    written with writeTo("postings").append(), from blocks materialized
    (localCheckpoint) before the bucket's rows are DELETEd; docs are a
    plain parquet write of the version's own directory."""
    cat, ms, _ = icat
    _log_commits(cat, ms, monkeypatch)

    blocks = MagicMock(name="blocks")
    bucket_docs = MagicMock(name="bucket_docs")
    index_build.write_bucket(cat, blocks, bucket_docs, 2, "v1", n_keys=5)
    sorted_docs = bucket_docs.select.return_value.sortWithinPartitions.return_value
    sorted_docs.write.parquet.assert_called_once_with(cat.version_path("docs", 2, "v1"))
    sorted_docs.writeTo.assert_not_called()

    persisted = blocks.withColumn.return_value.localCheckpoint.return_value
    # postings: tp-clustered (r6) + sorted frame + bucket and v columns ->
    # writeTo(postings).append()
    out = (
        persisted.repartition.return_value.sortWithinPartitions.return_value.withColumns.return_value
    )
    persisted.repartition.assert_called_once_with(16, "tp")  # tp_n default
    out.writeTo.assert_called_once_with("postings")
    out.writeTo.return_value.append.assert_called_once_with()
    blocks.withColumn.return_value.localCheckpoint.assert_called_once_with()
