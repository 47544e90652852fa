"""Single-process reference scorer: exhaustive BM25 over an in-memory index.

The obviously-correct oracle the engine must match rank-identically
(SURVEY.md §5) — the analogue of the reference repo's golden-CSV evaluation
scripts (``post_test_score.py``, ``MAP.py``). Deliberately simple: dict-based
inverted index, exhaustive scoring, no pruning, float64 throughout.

Uses THE SAME extraction/tokenization kernels as the engine
(:mod:`..textproc`) so byte-identity per url holds by construction.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from dataclasses import dataclass, field

import pandas as pd

from .textproc import bm25_idf, bm25_tf_norm, extract_text, tokenize, url_sort_key


@dataclass
class OracleIndex:
    n_docs: int = 0
    avgdl: float = 0.0
    doclen: dict = field(default_factory=dict)  # doc_id -> dl
    url_of: dict = field(default_factory=dict)  # doc_id -> url
    postings: dict = field(default_factory=dict)  # term -> {doc_id: tf}


def build_oracle_index(
    pages: pd.DataFrame, lang: str | None = "en", p_logical: int | None = None
) -> OracleIndex:
    """pages(url, warc_ts, html, text, lang) -> in-memory inverted index.

    doc_id assignment contract (engine matches exactly): dense 0..N-1 in
    ascending (url_group, url) order over the indexed subset, where
    url_group = md5_60bit(url) % p_logical (textproc.url_sort_key) — the
    engine's coordination-free id assignment replayed in pure Python.
    ``p_logical`` must match the value the index was built with (recorded in
    its manifest's global stats; default textproc.P_LOGICAL).
    """
    from .textproc import P_LOGICAL

    p = P_LOGICAL if p_logical is None else int(p_logical)
    if lang is not None:
        pages = pages[pages["lang"] == lang]
    keys = pages["url"].map(lambda u: url_sort_key(u, p))
    pages = pages.loc[keys.sort_values().index].reset_index(drop=True)
    idx = OracleIndex()
    postings: dict[str, dict[int, int]] = defaultdict(dict)
    total_len = 0
    for doc_id, row in enumerate(pages.itertuples(index=False)):
        text = extract_text(row.html)
        toks = tokenize(text)
        idx.doclen[doc_id] = len(toks)
        idx.url_of[doc_id] = row.url
        total_len += len(toks)
        for term, tf in Counter(toks).items():
            postings[term][doc_id] = tf
    idx.n_docs = len(pages)
    idx.avgdl = (total_len / idx.n_docs) if idx.n_docs else 0.0
    idx.postings = dict(postings)
    return idx


def oracle_topk(idx: OracleIndex, query_text: str, k: int = 10) -> list[tuple[int, str, float]]:
    """Exhaustive BM25 (k1=1.2, b=0.75), ties broken by doc_id ascending.

    Repeated query terms contribute once per occurrence (bag semantics),
    matching the engine. Returns [(doc_id, url, score)] of length <= k.
    """
    scores: dict[int, float] = defaultdict(float)
    for term in tokenize(query_text):
        plist = idx.postings.get(term)
        if not plist:
            continue
        idf = float(bm25_idf(len(plist), idx.n_docs))
        for doc_id, tf in plist.items():
            scores[doc_id] += idf * float(bm25_tf_norm(tf, idx.doclen[doc_id], idx.avgdl))
    ranked = sorted(scores.items(), key=lambda it: (-it[1], it[0]))[:k]
    return [(doc_id, idx.url_of[doc_id], score) for doc_id, score in ranked]


def oracle_results_frame(idx: OracleIndex, queries: pd.DataFrame) -> pd.DataFrame:
    """Run the full query set -> expected_topk frame (FIXTURES.md §3):
    (query_id, rank, url, doc_id, bm25_score)."""
    rows = []
    for q in queries.itertuples(index=False):
        for rank, (doc_id, url, score) in enumerate(oracle_topk(idx, q.query_text, q.k), start=1):
            rows.append((q.query_id, rank, url, doc_id, score))
    return pd.DataFrame(rows, columns=["query_id", "rank", "url", "doc_id", "bm25_score"])
