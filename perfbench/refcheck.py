"""Reference scorer for the benchmark's correctness checks.

A numpy re-statement of ``oracle.oracle_topk``: same extraction and
tokenization kernels, same float64 operations in the same order (per query
term, ``score += idf * tf_norm``), same (score desc, doc_id asc) tie-break —
so it returns bit-identical results, fast enough to check every timed query
(the dict-based oracle walks every posting of a head term in Python). The
smoke test pins the equality against ``oracle.oracle_topk``.
:meth:`RefIndex.matches` is the check applied to the engine's results.

Doc ids are passed in explicitly, so an index whose ids are not dense in
url order (appends continue past the old maximum; deletes leave gaps) is
mirrored exactly and ties break the same way the engine breaks them.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd

from information_retrieval_images_spark.textproc import (
    P_LOGICAL,
    bm25_idf,
    bm25_tf_norm,
    extract_text_series,
    tokenize,
    url_sort_key,
)


def dense_ids(pages: pd.DataFrame, start_id: int = 0, lang: str | None = "en") -> pd.DataFrame:
    """The engine's doc-id contract for one build or append batch: the
    indexed (lang-filtered) pages, dense ids from ``start_id`` in
    (url_group, url) order. Returns (doc_id, url, html)."""
    if lang is not None:
        pages = pages[pages["lang"] == lang]
    keys = pages["url"].map(lambda u: url_sort_key(u, P_LOGICAL))
    pages = pages.loc[keys.sort_values().index]
    return pd.DataFrame(
        {
            "doc_id": np.arange(start_id, start_id + len(pages), dtype=np.int64),
            "url": pages["url"].values,
            "html": pages["html"].values,
        }
    )


class RefIndex:
    """Exhaustive BM25 over (doc_id, url, html) rows."""

    def __init__(self, docs: pd.DataFrame):
        texts = extract_text_series(docs["html"].reset_index(drop=True))
        ids = docs["doc_id"].to_numpy(np.int64)
        self.text_bytes = int(sum(len(t.encode("utf-8")) for t in texts))
        size = int(ids.max()) + 1 if ids.size else 0
        self.dl = np.zeros(size, dtype=np.float64)
        self.url = np.empty(size, dtype=object)
        self.url[ids] = docs["url"].values
        post: dict[str, tuple[list[int], list[int]]] = {}
        total = 0
        for doc_id, text in zip(ids.tolist(), texts):
            toks = tokenize(text)
            self.dl[doc_id] = len(toks)
            total += len(toks)
            for term, tf in Counter(toks).items():
                p = post.setdefault(term, ([], []))
                p[0].append(doc_id)
                p[1].append(tf)
        self.n_docs = int(ids.size)
        self.avgdl = (total / self.n_docs) if self.n_docs else 0.0
        self.postings = {t: (np.array(d, np.int64), np.array(f, np.int64)) for t, (d, f) in post.items()}
        self.tie_swaps = 0  # results accepted by `matches` only as tie swaps

    def _scores(self, query_text: str) -> tuple[np.ndarray, np.ndarray]:
        scores = np.zeros(self.dl.size, dtype=np.float64)
        matched = np.zeros(self.dl.size, dtype=bool)
        for term in tokenize(query_text):
            p = self.postings.get(term)
            if p is None:
                continue
            ids, tfs = p
            idf = float(bm25_idf(ids.size, self.n_docs))
            scores[ids] += idf * bm25_tf_norm(tfs, self.dl[ids], self.avgdl)
            matched[ids] = True
        return scores, matched

    def _top(self, scores: np.ndarray, matched: np.ndarray, k: int) -> list[tuple[int, str, float]]:
        cand = np.flatnonzero(matched)
        top = cand[np.lexsort((cand, -scores[cand]))[:k]]
        return [(int(d), self.url[d], float(scores[d])) for d in top]

    def topk(self, query_text: str, k: int = 10) -> list[tuple[int, str, float]]:
        return self._top(*self._scores(query_text), k)

    def matches(self, query_text: str, got: list[tuple[int, str, float]], k: int = 10) -> bool:
        """``got`` (doc_id, url, score) is rank-identical to the top-k: same
        length, scores within 1e-9 position by position, each url that of its
        doc id, no doc twice, and each position holding the reference's doc.

        One exception: a position may hold another matching doc that the
        reference scores within 1e-9 of that position. Documents whose exact
        scores tie can differ in the last bits once the per-term sum runs in
        another order, and the engine then breaks the tie the other way."""
        scores, matched = self._scores(query_text)
        want = self._top(scores, matched, k)
        if len(got) != len(want) or len({g[0] for g in got}) != len(got):
            return False
        swaps = 0
        for (gid, gurl, gs), (wid, _, ws) in zip(got, want):
            if not (0 <= gid < scores.size and matched[gid] and gurl == self.url[gid] and _close(gs, ws)):
                return False
            if gid != wid:
                if not _close(scores[gid], ws):
                    return False
                swaps += 1
        self.tie_swaps += swaps
        return True


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
