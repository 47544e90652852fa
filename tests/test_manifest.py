"""The manifest commit point (catalog.py): readers on a second session see
each write whole or not at all, racing commits cannot both win, and the
vacuum deletes only what no reader can still need."""

import math
import os
import threading
import time

import pytest

from information_retrieval_images_spark import catalog as catalog_mod
from information_retrieval_images_spark import fixtures
from information_retrieval_images_spark.catalog import INDEX_TABLES, Catalog, CommitConflict
from information_retrieval_images_spark.operators.incremental import append_bucket
from information_retrieval_images_spark.operators.index_build import build_index
from information_retrieval_images_spark.operators.maintenance import compact_buckets, delete_docs
from information_retrieval_images_spark.oracle import build_oracle_index, oracle_topk
from information_retrieval_images_spark.serving import SearchSession

QUERY = "term000000 term000003"


def _oracle(corpus):
    idx = build_oracle_index(corpus, lang="en")
    return [(url, score) for _, url, score in oracle_topk(idx, QUERY, k=10)]


def _same(got, want) -> bool:
    return [u for u, _ in got] == [u for u, _ in want] and all(
        math.isclose(a, b, rel_tol=1e-9) for (_, a), (_, b) in zip(got, want)
    )


def _search(session):
    return [(r["url"], r["bm25_score"]) for r in session.search(QUERY)]


def test_concurrent_reader_sees_whole_commits(spark, tmp_path_factory):
    """A second SearchSession loops one query while this thread appends,
    deletes and compacts: zero reader errors, and every result ranks like
    the oracle over the index state before or after the op in flight."""
    full = fixtures.make_pages_pandas(260)
    initial, batch = full.iloc[:200], full.iloc[200:]
    wh = str(tmp_path_factory.mktemp("readers"))
    writer = Catalog(spark, wh)
    build_index(spark, spark.createDataFrame(initial), writer, n_buckets=2)
    victims = initial[initial["lang"] == "en"]["url"].iloc[[0, 3, 11, 40]].tolist()
    ops = [
        lambda: append_bucket(spark, spark.createDataFrame(batch), writer, bucket=1000),
        lambda: delete_docs(spark, writer, victims),
        lambda: compact_buckets(spark, writer, [1, 1000], target_bucket=2000),
    ]
    after_delete = full[~full["url"].isin(victims)]
    states = [_oracle(initial), _oracle(full), _oracle(after_delete), _oracle(after_delete)]

    reader = SearchSession(spark, wh)
    assert _same(_search(reader), states[0])
    done = [0]  # ops finished so far
    stop = threading.Event()
    log = []  # (ops done at start, ops done at end, result or exception)

    def loop():
        while not stop.is_set():
            d0 = done[0]
            try:
                res = _search(reader)
            except Exception as e:  # noqa: BLE001 — every reader error is a failure
                res = e
            log.append((d0, done[0], res))

    t = threading.Thread(target=loop)
    t.start()
    try:
        for op in ops:
            op()
            done[0] += 1
    finally:
        stop.set()
        t.join(timeout=120)
    assert not t.is_alive(), "reader thread did not stop"

    errors = [r for _, _, r in log if isinstance(r, Exception)]
    assert not errors, errors[:3]
    for d0, d1, res in log:
        assert any(_same(res, s) for s in states[d0 : d1 + 2]), (d0, d1, res)
    assert sum(d0 < len(ops) for d0, _, _ in log) >= 3, "reader never overlapped a write"
    assert _same(_search(reader), states[-1])


def test_racing_commits_loser_raises_manifest_unchanged(spark, tmp_path, monkeypatch):
    """Two writers on one base manifest: the first commit wins, the second
    raises CommitConflict and leaves the manifest as the winner wrote it —
    both when it sees the moved manifest and when it raced the winner for
    the same sequence number (os.link refuses the taken file)."""
    root = str(tmp_path)
    a, b = Catalog(spark, root), Catalog(spark, root)
    a.commit({"job": "seed"}, tables={"postings": {0: "v0"}})
    base_a, base_b = a.snapshot(), b.snapshot()
    a.commit({"job": "a"}, tables={"postings": {1: "va"}}, base=base_a)

    def latest():
        snap = Catalog(spark, root).snapshot()
        return snap.seq, snap.manifest["lineage"]["job"], snap.tables["postings"]

    want = (2, "a", {0: "v0", 1: "va"})
    assert latest() == want
    with pytest.raises(CommitConflict):
        b.commit({"job": "b"}, tables={"postings": {2: "vb"}}, base=base_b)
    assert latest() == want
    # a writer that read seq 1 just before the winner linked seq 2
    monkeypatch.setattr(b, "_latest", lambda: base_b)
    with pytest.raises(CommitConflict):
        b.commit({"job": "b"}, tables={"postings": {2: "vb"}})
    assert latest() == want
    assert sorted(os.listdir(os.path.join(root, "_manifest"))) == ["1.json", "2.json"]


def test_threaded_commits_lose_no_update(spark, tmp_path):
    """Bucket pipelines commit from many threads on one catalog: each
    commit rebases on the latest manifest under the catalog's lock, so no
    thread's entry is lost and the sequence has no gap."""
    import sys

    cat = Catalog(spark, str(tmp_path))
    n = 32
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=cat.commit, args=({"job": "t"},), kwargs={"tables": {"postings": {b: f"v{b}"}}})
            for b in range(n)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    snap = Catalog(spark, str(tmp_path)).snapshot()
    assert snap.seq == n
    assert snap.tables["postings"] == {b: f"v{b}" for b in range(n)}


def _dirs(cat):
    return {p for t in INDEX_TABLES for p in cat.version_dirs(t).values()}


def test_vacuum_after_grace_period_only(spark, tmp_path_factory, monkeypatch):
    """Retired versions, superseded manifests and the files a crashed
    delete left (its docs and bloom versions) survive every commit inside
    the grace period, also one to the crashed buckets. Once the clock
    passes it, a commit deletes them and the crashed write's files in the
    buckets it touches, never a live directory; the index still ranks like
    the oracle."""
    from information_retrieval_images_spark.operators import index_build

    full = fixtures.make_pages_pandas(170)
    pdf = full.iloc[:150]
    cat = Catalog(spark, str(tmp_path_factory.mktemp("vacuum")))
    build_index(spark, spark.createDataFrame(pdf), cat, n_buckets=2)
    en = pdf[pdf["lang"] == "en"]
    first, second = en["url"].iloc[[0, 1]].tolist(), en["url"].iloc[[2, 3]].tolist()
    built = _dirs(cat)

    delete_docs(spark, cat, first)
    retired = built - _dirs(cat)
    assert retired, "the delete retired no version"

    # a crashed delete leaves unreferenced files in the buckets it targets:
    # its postings write dies, the docs and bloom writes beside it land
    def crash(*a, **k):
        raise RuntimeError("simulated crash")

    monkeypatch.setattr(index_build, "_write_postings_rows", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        delete_docs(spark, cat, second)
    monkeypatch.undo()
    docs_root = cat.path("docs")
    on_disk = {
        os.path.join(docs_root, b, v)
        for b in os.listdir(docs_root)
        if b.startswith("bucket=")
        for v in os.listdir(os.path.join(docs_root, b))
    }
    orphans = on_disk - _dirs(cat) - retired
    assert orphans, "the crashed delete left no files"

    append_bucket(spark, spark.createDataFrame(full.iloc[150:]), cat, bucket=1000)
    manifests = sorted(os.listdir(cat.path("_manifest")))
    assert len(manifests) > 1
    assert all(os.path.isdir(p) for p in retired | orphans), "vacuum ran inside the grace period"
    # the retry commits to the crashed buckets, so its vacuum visits the
    # orphans; inside the grace period it must keep them
    delete_docs(spark, cat, second)
    assert all(os.path.isdir(p) for p in retired | orphans), "vacuum ran inside the grace period"

    later = time.time() + catalog_mod.VACUUM_GRACE_MINUTES * 60 + 60
    monkeypatch.setattr(catalog_mod, "_now", lambda: later)
    compact_buckets(spark, cat, [0, 1], target_bucket=20)  # touches the crashed buckets
    assert not any(os.path.exists(p) for p in retired | orphans)
    live = _dirs(cat)
    assert all(os.path.isdir(p) for p in live)
    assert os.listdir(cat.path("_manifest")) == [f"{cat.index_version()}.json"]

    kept = full[~full["url"].isin(first + second)]
    fresh = SearchSession(spark, cat.root)
    assert _same(_search(fresh), _oracle(kept))


def test_read_raises_when_a_listed_version_is_missing(spark, tmp_path):
    """A version directory the manifest lists but the disk lacks (e.g.
    vacuumed under a reader pinned past the grace period) fails the read
    with its path, instead of returning a table without that bucket."""
    import shutil

    cat = Catalog(spark, str(tmp_path))
    build_index(spark, spark.createDataFrame(fixtures.make_pages_pandas(40)), cat, n_buckets=2)
    assert cat.read("docs").count() > 0
    gone = cat.version_dirs("docs")[1]
    shutil.rmtree(gone)
    with pytest.raises(FileNotFoundError, match="missing") as ei:
        Catalog(spark, cat.root).read("docs")
    assert gone in str(ei.value)
