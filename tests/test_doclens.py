"""The kernels' dl and url read path (operators.bm25._load_group_dls over
the ``docs`` table): discovery scoping + drift guard (VERDICT r4 what's-wrong
#2, ADVICE r4 #3)."""

import numpy as np
import pytest

from information_retrieval_images_spark import fixtures
from information_retrieval_images_spark.catalog import Catalog
from information_retrieval_images_spark.operators.bm25 import (
    _group_dls,
    _load_group_dls,
    bm25_topk_wand,
)
from information_retrieval_images_spark.operators.index_build import build_index


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = fixtures.make_pages_pandas(120)
    cat = Catalog(spark, str(tmp_path_factory.mktemp("dlwh")))
    build_index(spark, spark.createDataFrame(pdf), cat, n_buckets=3)
    return cat


def test_doclens_discovery_scoped_to_candidate_buckets(built, monkeypatch):
    """A kernel's dl read must open ONLY its candidate buckets' docs version
    directories, never the docs root: root discovery lists every bucket
    directory before pruning — O(buckets) metadata RPCs per WAND task per
    query at 10^4-10^5 buckets on object storage."""
    import pyarrow.dataset as pads

    root = built.path("docs")
    dirs = built.version_dirs("docs")
    opened = []
    orig = pads.dataset

    def spy(path, *a, **k):
        opened.append(path)
        return orig(path, *a, **k)

    monkeypatch.setattr(pads, "dataset", spy)
    # ask for groups from bucket 1 only; groups exist (ids round-robin over
    # 3 buckets within group 0 at this corpus size)
    out = _load_group_dls(dirs, {(1, 0)})
    assert opened == [dirs[1]]
    assert set(out) == {(1, 0)}
    ids, dls, urls = out[1, 0]
    assert ids.size == dls.size == len(urls) > 0
    # multi-bucket request opens exactly the candidate set, no root listing
    opened.clear()
    _load_group_dls(dirs, {(0, 0), (2, 0)})
    assert sorted(opened) == [dirs[0], dirs[2]]
    assert root not in opened


def test_doclens_merge_across_buckets_matches_docs_table(built):
    """Consecutive doc ids round-robin over buckets, so one group's docs span
    several buckets' docs versions; each bucket's (ids, dls, urls) must
    equal the docs table's (doc_id, dl, url) of that bucket, sorted by
    doc_id, so that merged across buckets they are the group's rows."""
    docs = built.read("docs").select("doc_id", "dl", "url", "bucket").toPandas().sort_values("doc_id")
    out = _load_group_dls(built.version_dirs("docs"), {(0, 0), (1, 0), (2, 0)})
    assert set(out) == {(0, 0), (1, 0), (2, 0)}
    for (b, _), (ids, dls, urls) in out.items():
        mine = docs[docs["bucket"] == b]
        assert ids.tolist() == mine["doc_id"].tolist() != []
        assert dls.tolist() == mine["dl"].tolist()
        assert urls.to_pylist() == mine["url"].tolist()
    merged = sorted(zip(*(np.concatenate([e[i] for e in out.values()]).tolist() for i in (0, 1))))
    assert merged == list(zip(docs["doc_id"].tolist(), docs["dl"].tolist()))


def test_group_dls_raises_on_sidecar_drift():
    """searchsorted into drifted docs arrays must raise loudly, never score
    with a neighbor's doc length (ADVICE r4 #3)."""
    ids_g = np.array([10, 20, 30], dtype=np.int64)
    dls_g = np.array([5, 6, 7], dtype=np.int64)
    # healthy lookup
    got = _group_dls(ids_g, dls_g, np.array([10, 30], dtype=np.int64))
    assert got.tolist() == [5.0, 7.0]
    # missing id in the middle (would have scored with doc 20's length)
    with pytest.raises(RuntimeError, match="docs/postings inconsistency"):
        _group_dls(ids_g, dls_g, np.array([10, 15], dtype=np.int64))
    # missing id past the end (old code: IndexError or silent clamp)
    with pytest.raises(RuntimeError, match="docs/postings inconsistency"):
        _group_dls(ids_g, dls_g, np.array([99], dtype=np.int64))
    # no docs row at all
    with pytest.raises(RuntimeError, match="docs/postings inconsistency"):
        _group_dls(np.array([], dtype=np.int64), np.array([], dtype=np.int64), np.array([1], dtype=np.int64))


def test_wand_query_green_after_scoping(spark, built):
    """End-to-end: the scoped reader feeds the WAND kernel inside executors
    and results stay rank-identical to the oracle."""
    import math

    from information_retrieval_images_spark.operators.bm25 import attach_urls
    from information_retrieval_images_spark.oracle import build_oracle_index, oracle_topk

    pdf = fixtures.make_pages_pandas(120)
    idx = build_oracle_index(pdf, lang="en")
    got = (
        attach_urls(bm25_topk_wand(spark, built, [(0, "term000000 term000003", 10)]), built)
        .toPandas()
        .sort_values("rank")
    )
    want = oracle_topk(idx, "term000000 term000003", k=10)
    assert list(got["url"]) == [u for _, u, _ in want]
    for a, (_, _, b) in zip(got["bm25_score"], want):
        assert math.isclose(a, b, rel_tol=1e-9)
