"""Serving path (reference server.py:128-177): SearchSession warm queries +
the stdlib HTTP wrapper, rank-identical to the oracle."""

import json
import threading
import urllib.error
import urllib.request

import pytest

from information_retrieval_images_spark import fixtures
from information_retrieval_images_spark.catalog import Catalog
from information_retrieval_images_spark.operators.index_build import build_index
from information_retrieval_images_spark.oracle import build_oracle_index, oracle_topk
from information_retrieval_images_spark.serving import SearchSession, make_http_server


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    pages = fixtures.make_pages_pandas(120)
    wh = str(tmp_path_factory.mktemp("serve_wh"))
    cat = Catalog(spark, wh)
    build_index(spark, spark.createDataFrame(pages), cat, n_buckets=1)
    idx = build_oracle_index(pages, lang="en")
    return SearchSession(spark, wh), idx


def test_search_session_matches_oracle(served):
    session, idx = served
    q = "term000000 term000003"
    got = session.search(q, k=5)
    want = oracle_topk(idx, q, k=5)
    assert [r["url"] for r in got] == [url for _, url, _ in want]
    assert [r["rank"] for r in got] == list(range(1, len(got) + 1))
    # warm repeat: same results, caches hot (no assertion on timing — the
    # cache behavior itself is pinned in test_bm25_e2e)
    assert session.search(q, k=5) == got


def test_http_search_endpoint(served):
    session, idx = served
    srv = make_http_server(session, port=0)  # ephemeral port
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        port = srv.server_address[1]
        q = "term000001"
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/search?q={q}&k=3") as resp:
            assert resp.status == 200
            body = json.loads(resp.read())
        assert body["query"] == q and body["k"] == 3
        want = oracle_topk(idx, q, k=3)
        assert [r["url"] for r in body["results"]] == [url for _, url, _ in want]
        # error shapes
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/nope")
        assert ei.value.code == 404
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/search")
        assert ei.value.code == 400
    finally:
        srv.shutdown()
        srv.server_close()


def test_http_search_error_replies_are_json(served, monkeypatch):
    """k < 1 is the client's error: 400 with a JSON body. An engine failure
    is a 500 JSON reply that, like every JSON reply, carries its
    Content-Length."""
    session, _ = served
    srv = make_http_server(session, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        port = srv.server_address[1]
        for k in (0, -1):
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(f"http://127.0.0.1:{port}/search?q=term000001&k={k}")
            assert ei.value.code == 400
            assert "k must be >= 1" in json.loads(ei.value.read())["error"]

        def broken(q, k=10):
            raise RuntimeError("engine down")

        monkeypatch.setattr(session, "search", broken)
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/search?q=term000001")
        assert ei.value.code == 500
        body = ei.value.read()
        assert int(ei.value.headers["Content-Length"]) == len(body)
        assert json.loads(body) == {"error": "engine down"}
    finally:
        srv.shutdown()
        srv.server_close()


def test_http_append_roundtrip(spark, tmp_path_factory):
    """Ingest over HTTP then query over HTTP (VERDICT r3 next #8): the
    appended page is immediately searchable and the combined corpus stays
    rank-identical to the oracle."""
    import base64

    import pandas as pd

    pages = fixtures.make_pages_pandas(100)
    wh = str(tmp_path_factory.mktemp("append_wh"))
    cat = Catalog(spark, wh)
    build_index(spark, spark.createDataFrame(pages.iloc[:80]), cat, n_buckets=1)
    session = SearchSession(spark, wh)
    srv = make_http_server(session, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        port = srv.server_address[1]
        new = pages.iloc[80:]
        payload = json.dumps(
            {
                "pages": [
                    {
                        "url": r.url,
                        "html": base64.b64encode(bytes(r.html)).decode(),
                        "lang": r.lang,
                    }
                    for r in new.itertuples(index=False)
                ]
            }
        ).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/append",
            data=payload,
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
            out = json.loads(resp.read())
        assert out["n_new"] == (new["lang"] == "en").sum()

        # queries over HTTP now see the full corpus, oracle-identical
        idx_full = build_oracle_index(pages, lang="en")
        q = "term000000 term000003"
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/search?q={q.replace(' ', '+')}&k=5") as resp:
            body = json.loads(resp.read())
        want = oracle_topk(idx_full, q, k=5)
        assert [r["url"] for r in body["results"]] == [url for _, url, _ in want]

        # malformed payload -> 400, not a stack trace
        bad = urllib.request.Request(
            f"http://127.0.0.1:{port}/append", data=b'{"nope": 1}', method="POST"
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(bad)
        assert ei.value.code == 400
    finally:
        srv.shutdown()
        srv.server_close()


def test_http_search_requests_overlap(served, monkeypatch):
    """VERDICT r4 stretch #8: the server must handle two /search requests
    CONCURRENTLY (not head-of-line). Deterministic overlap proof: the engine
    is wrapped in a barrier only two simultaneous in-flight requests can
    pass — a serialized server deadlocks the barrier and fails the timeout.
    Rank identity under concurrency is asserted on the real responses."""
    import urllib.request

    from information_retrieval_images_spark import serving

    session, idx = served
    barrier = threading.Barrier(2, timeout=60)
    real_engine = serving.bm25_search

    def barriered(*args, **kw):
        barrier.wait()  # passes only when BOTH requests are in-flight
        return real_engine(*args, **kw)

    monkeypatch.setattr(serving, "bm25_search", barriered)
    srv = make_http_server(session, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        port = srv.server_address[1]
        results = {}

        def client(q):
            with urllib.request.urlopen(f"http://127.0.0.1:{port}/search?q={q}&k=3", timeout=120) as r:
                results[q] = json.loads(r.read())

        c1 = threading.Thread(target=client, args=("term000000",))
        c2 = threading.Thread(target=client, args=("term000001",))
        c1.start(); c2.start(); c1.join(120); c2.join(120)
        assert set(results) == {"term000000", "term000001"}
        for q, body in results.items():
            want = oracle_topk(idx, q, k=3)
            assert [r["url"] for r in body["results"]] == [u for _, u, _ in want], q
    finally:
        srv.shutdown()
