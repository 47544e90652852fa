"""Interactive serving path: the reference's HTTP ``/search`` endpoint
(``server.py:128-177``) re-expressed over the Spark engine, plus the ingest
mutation (``/append``) mirroring the reference's ``/label-images`` /
``/embed-text`` POST endpoints (``server.py:50-101``) — there the mutation
path feeds new captions/embeddings into the store; here it feeds new pages
into the index through the batch append operator.

Two layers:

- :class:`SearchSession` — the warm-path object a long-lived driver holds:
  one SparkSession + one Catalog whose driver-side metadata caches
  (global stats, per-term df — ``catalog.py``) stay hot across requests,
  so a repeat query whose matched volume fits one task runs no Spark job:
  ``operators.bm25.bm25_search_records`` scores it in the driver from the
  pinned manifest's cached postings files and doc groups. This is the
  unit the latency contract is written against (the ``perfbench``
  ``search`` workload: closed-loop clients on one warm session).
  Its :meth:`SearchSession.append` wraps ``operators.incremental.
  append_bucket`` with HTTP-ingest bucket allocation (a dedicated id range,
  disjoint from build and streaming ranges).
- :func:`make_http_server` — a stdlib ``http.server`` wrapper exposing
  ``GET /search?q=...&k=10`` returning the reference's response shape
  ``{"query": ..., "results": [{"rank", "doc_id", "url", "bm25_score"}]}``
  and ``POST /append`` taking ``{"pages": [{"url", "html" (base64),
  "lang"}, ...]}``. The server is THREADED for /search: concurrent queries
  are independent read-only calls in the driver. A warm query reads no file
  and decodes no posting (its postings files, its terms' decoded rows and
  its doc groups come from the in-process cache), so it is all Python and
  numpy under the GIL and 4 clients get no more done than one: on the
  6,000-page perfbench ``search`` index (local[4], 4 vCPUs, in process, 5 s
  each) 1 client ran 670-753 queries/s at a 1.3-1.5 ms median and 4
  clients 518-544 queries/s at 7.0-7.2 ms. A query that still takes the
  Spark plan (fan-out above 1, Iceberg postings) submits its jobs to
  Spark's FIFO scheduler, so concurrent ones queue, and one that arrives
  during an /append waits behind the append's jobs (6,000-page index, local[4]:
  1.5 s alone, 3.7 s median during an append, over 9 and 6 samples). /append
  stays serialized behind a lock (each append commits against the
  manifest it read; a concurrent one would fail its commit). Horizontal
  scale beyond one driver comes from read-only replicas over the same
  warehouse, with ingest on ONE writer: every commit writes new immutable
  bucket versions and publishes them with one atomic manifest file, and
  each search pins one manifest, so a replica's queries never see a
  half-applied write.

No new dependencies: stdlib http only. The reference's rate-limit sleep
(``server.py:152``, sleep(4) per Gemini call) has no analogue — scoring is
local to the cluster.
"""

from __future__ import annotations

import base64
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from .catalog import Catalog
from .operators.bm25 import bm25_search_records

# HTTP-ingest buckets count up from here: disjoint from build buckets (small
# ints), streaming micro-batch buckets (1_000_000 + batch_id) and streaming
# compaction targets (descending below 1_000_000).
HTTP_INGEST_BUCKET_START = 2_000_000


class SearchSession:
    """Warm query session over a built index (reference ``/search`` core)."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.catalog = Catalog(spark, warehouse)
        # appends commit against the manifest they read, so two at once would
        # make one fail; the threaded HTTP server funnels every /append here
        self._append_lock = threading.Lock()

    def search(self, query_text: str, k: int = 10) -> list[dict]:
        """One query -> ranked [{rank, doc_id, url, bm25_score}, ...].

        Thread-safe: the scoring and the url lookup read one pinned catalog
        snapshot per call, and a warm query with fan-out 1 runs no Spark
        job (operators.bm25.bm25_search_records)."""
        return bm25_search_records(self.spark, self.catalog, query_text, int(k))

    def append(self, pages: list[dict], bucket: int | None = None, lang: str | None = "en") -> dict:
        """Ingest pages (list of {"url", "html" bytes, "lang", optional
        "warc_ts"/"text"}) as one fresh bucket — the serving-side wrapper
        over operators.incremental.append_bucket (anti-join dedup, doc-id
        continuation, bucket-scoped encode, manifest commit all apply).
        Returns the append metrics; queries see the new docs as soon as the
        commit lands (the metadata caches belong to a manifest snapshot).
        Serialized behind the session's append lock."""
        from .operators.incremental import append_bucket

        pdf = pd.DataFrame(
            {
                "url": [p["url"] for p in pages],
                "warc_ts": pd.Series(
                    [p.get("warc_ts", np.datetime64("1970-01-01T00:00:00")) for p in pages],
                    dtype="datetime64[us]",
                ),
                "html": [
                    p["html"] if isinstance(p["html"], (bytes, bytearray)) else str(p["html"]).encode()
                    for p in pages
                ],
                "text": [p.get("text", "") for p in pages],
                "lang": [p.get("lang", "en") for p in pages],
            }
        )
        df = self.spark.createDataFrame(
            pdf, "url string, warc_ts timestamp, html binary, text string, lang string"
        )
        with self._append_lock:
            if bucket is None:
                used = [b for b in self.catalog.committed_buckets() if b >= HTTP_INGEST_BUCKET_START]
                bucket = (max(used) + 1) if used else HTTP_INGEST_BUCKET_START
            return append_bucket(self.spark, df, self.catalog, bucket, lang=lang)


def make_http_server(
    session: SearchSession, host: str = "127.0.0.1", port: int = 8080
) -> ThreadingHTTPServer:
    """HTTP wrapper: GET /search?q=...&k=10 (reference server.py:128-177)
    and POST /append with {"pages": [{"url", "html" base64, "lang"}, ...]}
    (reference ingest mutations server.py:50-101). Threaded: /search
    requests overlap (independent read-only calls); /append serializes
    inside SearchSession.append."""

    class Handler(BaseHTTPRequestHandler):
        def _json(self, code: int, obj: dict) -> None:
            body = json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):  # noqa: N802 (stdlib API name)
            if urlparse(self.path).path != "/append":
                self._json(404, {"error": "only /append accepts POST"})
                return
            try:
                n = int(self.headers.get("Content-Length", "0"))
                payload = json.loads(self.rfile.read(n) or b"{}")
                pages = payload["pages"]
                for p in pages:
                    p["html"] = base64.b64decode(p["html"])
            except (KeyError, ValueError, TypeError) as e:
                self._json(400, {"error": f"bad /append payload: {e}"})
                return
            try:
                res = session.append(pages, bucket=payload.get("bucket"))
            except Exception as e:  # surface engine errors as 500 JSON
                self._json(500, {"error": str(e)[:500]})
                return
            self._json(200, {k: v for k, v in res.items() if isinstance(v, (int, float))})

        def do_GET(self):  # noqa: N802 (stdlib API name)
            u = urlparse(self.path)
            if u.path != "/search":
                self._json(404, {"error": "only /search is served"})
                return
            qs = parse_qs(u.query)
            q = (qs.get("q") or [""])[0]
            if not q:
                self._json(400, {"error": "missing q parameter"})
                return
            try:
                k = int((qs.get("k") or ["10"])[0])
            except ValueError:
                self._json(400, {"error": "k must be an int"})
                return
            try:
                results = session.search(q, k=k)
            except ValueError as e:  # a query the engine refuses (k < 1, too many terms)
                self._json(400, {"error": str(e)[:500]})
                return
            except Exception as e:  # surface engine errors as 500 JSON
                self._json(500, {"error": str(e)[:500]})
                return
            self._json(200, {"query": q, "k": k, "results": results})

        def log_message(self, *args):  # quiet: the driver log is the log
            pass

    return ThreadingHTTPServer((host, port), Handler)
