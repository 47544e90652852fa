"""Deterministic synthetic webtext corpus + reference query set (FIXTURES.md).

The repo's analogue of the reference's frozen eval corpus
(``labels_raghav.db`` + committed ``results/*.csv`` goldens,
``post_test_score.py:9-79``): every row is reproducible independently from
``(seed, i)``, so partitions generate without coordination and any scale can
be re-materialized bit-identically — no external data.

Corpus shape is the authoritative input hint from BASELINE.json:
``pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)``.
``text`` is the ground-truth extraction of ``html`` (the generator wraps text
in boilerplate tags, so extraction is non-trivial and byte-exactly checkable).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

VOCAB_SIZE = 10_000
ZIPF_S = 1.1
MIN_TOKENS, MAX_TOKENS = 20, 200
EPOCH = np.datetime64("2025-01-01T00:00:00")

_VOCAB = np.array([f"term{i:06d}" for i in range(VOCAB_SIZE)])
# Zipf(s) pmf over ranks 1..V, precomputed once; sampling uses searchsorted
# over the cdf with per-row seeded uniforms -> fully deterministic per (seed,i).
_ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
_pmf = _ranks ** (-ZIPF_S)
_pmf /= _pmf.sum()
_CDF = np.cumsum(_pmf)


def _row_rng(seed: int, i: int) -> np.random.Generator:
    return np.random.Generator(np.random.Philox(key=np.uint64(seed), counter=[0, 0, 0, np.uint64(i)]))


def _boilerplate(i: int, target_bytes: int) -> str:
    """Deterministic markup mass with no visible text (stripped wholesale by
    extraction): attribute-heavy empty elements, script/style blobs, comments.
    Approximates real Common-Crawl page weight so extraction compute is
    realistic; extracted text is unchanged."""
    parts = []
    size = 0
    k = 0
    while size < target_bytes:
        kind = k % 4
        if kind == 0:
            s = f'<div class="col-{k} nav-item wrapper" data-idx="{k}" data-track="evt-{i}-{k}" style="display:none"></div>'
        elif kind == 1:
            s = f'<script type="text/javascript">window.__q{k}=[{",".join(str((k * 7 + j) % 97) for j in range(40))}];</script>'
        elif kind == 2:
            s = f"<!-- module {k} build {i} " + "x" * 120 + " -->"
        else:
            s = f"<style>.m{k}{{padding:{k % 32}px;margin:{k % 16}px;color:#a{k % 10}b{k % 10}c{k % 10}}}</style>"
        parts.append(s)
        size += len(s)
        k += 1
    return "".join(parts)


def make_pages_batch(indices: np.ndarray, seed: int = 42, page_kb: int = 0) -> pd.DataFrame:
    """Generate pages rows for arbitrary doc indices (vectorized per row).

    page_kb > 0 pads each page with ~page_kb KiB of text-free boilerplate
    markup (real web pages are 50-100 KB); extracted text is identical to the
    light variant, so goldens and rank-identity are unaffected.
    """
    urls, tss, htmls, texts, langs = [], [], [], [], []
    for i in indices:
        i = int(i)
        rng = _row_rng(seed, i)
        n_tok = int(rng.integers(MIN_TOKENS, MAX_TOKENS + 1))
        u = rng.random(n_tok)
        toks = _VOCAB[np.searchsorted(_CDF, u)]
        text = " ".join(toks.tolist())
        lang = "en" if rng.random() < 0.95 else "de"
        boiler = _boilerplate(i, page_kb * 1024) if page_kb else ""
        html = (
            f"<html><head><title>T{i}</title>"
            f"<style>body{{margin:0}}</style>"
            f"<script>var x={i};</script>{boiler}</head>"
            f"<body><!-- doc {i} --><h1>T{i}</h1><p>{text}</p></body></html>"
        ).encode("utf-8")
        urls.append(f"https://site{i % 50}.example/p/{i:08d}")
        tss.append(EPOCH + np.timedelta64(37 * i, "s"))
        htmls.append(html)
        texts.append(text)
        langs.append(lang)
    return pd.DataFrame(
        {
            "url": pd.Series(urls, dtype=object),
            "warc_ts": pd.Series(tss, dtype="datetime64[us]"),
            "html": pd.Series(htmls, dtype=object),
            "text": pd.Series(texts, dtype=object),
            "lang": pd.Series(langs, dtype=object),
        }
    )


def expected_extracted_text(i: int, text: str) -> str:
    """Ground truth of extract_text over the generated html for doc i."""
    return f"T{i} T{i} {text}"


def make_pages_pandas(n_docs: int, seed: int = 42) -> pd.DataFrame:
    return make_pages_batch(np.arange(n_docs), seed=seed)


def generate_pages_df(spark, n_docs: int, seed: int = 42, partitions: int | None = None, page_kb: int = 0):
    """Distributed generator: spark.range -> mapInPandas (scales to any SF;
    each partition generates its own rows from (seed, id) independently)."""
    from .sources.pages import PAGES_SCHEMA

    def gen(batches):
        for pdf in batches:
            yield make_pages_batch(pdf["id"].values, seed=seed, page_kb=page_kb)

    rng = spark.range(0, n_docs, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return rng.mapInPandas(gen, schema=PAGES_SCHEMA)


# --- Reference query set (frozen; analogue of server.py:40-42 + fixed prompt
# list evaluate_gemini_cap.py:23-31) ------------------------------------------

N_QUERIES = 50
DEFAULT_K = 10  # reference default, server.py:42


def make_queries_pandas(seed: int = 42, n_queries: int = N_QUERIES) -> pd.DataFrame:
    rows = []
    for q in range(n_queries):
        rng = _row_rng(seed + 1_000_003, q)
        n_terms = int(rng.integers(1, 6))
        terms = []
        for t in range(n_terms):
            r = rng.random()
            if r < 0.4:  # head
                rank = int(rng.integers(0, 20))
            elif r < 0.8:  # mid
                rank = int(rng.integers(20, 2_000))
            else:  # tail
                rank = int(rng.integers(2_000, VOCAB_SIZE))
            terms.append(_VOCAB[rank])
        if q % 10 == 9:  # a few queries include a term absent from the corpus
            terms.append(f"absent{q:04d}")
        rows.append({"query_id": q, "query_text": " ".join(terms), "k": DEFAULT_K})
    return pd.DataFrame(rows)
