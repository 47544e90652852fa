"""Shared text-processing kernels: HTML->text extraction and tokenization.

THE single implementation used by both the Spark engine (inside Arrow-batched
pandas UDFs) and the pure-Python oracle scorer — never two copies, so the
"byte-identical extracted text per url" invariant holds by construction.

Reference analogue: the expensive per-document model UDF
(``gemini_api.py:29-65`` in the reference) is replaced by a deterministic,
pure-local HTML->text extractor; the reference's entire analyzer is
``text.lower().split()`` (``MAP.py:5-6``, ``caption_generator_post.py:15-16``)
and the engine keeps exactly those semantics.

All kernels are pandas-Series-vectorized (compiled regexes via
``Series.str.replace`` — no per-row Python in the Spark hot path, per the
input hint).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# --- HTML -> text extraction -------------------------------------------------
# Deterministic tag-stripper adequate for Common-Crawl-style pages:
# 1. one left-to-right pass drops <script>/<style>/<!--comment--> blocks
#    wholesale and strips remaining tags (a single alternation: at each '<'
#    the first matching alternative wins, which reproduces the sequential
#    block-then-tag semantics on any well-formed markup; one pass instead of
#    four halves the string-materialization memory traffic — extraction is
#    the build's dominant kernel)
# 2. decode the handful of entities that matter for tokenization
# 3. collapse whitespace runs to single spaces, trim
# The exact normalization is part of the engine contract (byte-identity per
# url is asserted in tests; tests/test_textproc.py pins the behavior on a
# battery of edge cases), so change nothing here without regenerating
# goldens.

_RE_STRIP = re.compile(
    r"(?is)<script\b.*?</script\s*>|<style\b.*?</style\s*>|<!--.*?-->|<[^>]*>"
)
_RE_WS = re.compile(r"\s+")

_ENTITIES = {
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&apos;": "'",
    "&nbsp;": " ",
}
_RE_ENTITY = re.compile("|".join(re.escape(k) for k in _ENTITIES))


def extract_text_series(html: pd.Series) -> pd.Series:
    """Vectorized HTML->text over a Series of ``bytes`` (or str) values.

    Returns a Series of str. This is the engine UDF body AND the oracle
    extractor (oracle wraps single values in a 1-element Series).
    """
    s = html.map(lambda b: b.decode("utf-8", errors="replace") if isinstance(b, (bytes, bytearray)) else ("" if b is None else str(b)))
    s = s.str.replace(_RE_STRIP, " ", regex=True)
    s = s.str.replace(_RE_ENTITY, lambda m: _ENTITIES[m.group(0)], regex=True)
    s = s.str.replace(_RE_WS, " ", regex=True).str.strip()
    return s


def extract_text(html: bytes | str) -> str:
    """Single-value convenience wrapper (oracle path) — same kernel."""
    return extract_text_series(pd.Series([html]))[0]


# --- Tokenization ------------------------------------------------------------
# Reference analyzer parity: lowercase + whitespace split (MAP.py:5-6).


def tokenize(text: str) -> list[str]:
    """Lowercase + whitespace-split. The one analyzer, oracle included."""
    return text.lower().split()


def tokenize_series(text: pd.Series) -> pd.Series:
    """Vectorized analyzer: Series[str] -> Series[list[str]]."""
    return text.str.lower().str.split()


def term_frequencies_batch(doc_ids: pd.Series, texts: pd.Series) -> pd.DataFrame:
    """SPIMI run generation for one Arrow batch: (doc_id, text) rows ->
    (term, doc_id, tf, dl) posting rows, pandas-vectorized via
    explode + groupby (no per-row Python loop).

    Reference analogue: the text->indexable-representation step
    (``embeddings.py:12-31``), reshaped as a UDTF (1 row in, many out).
    """
    toks = tokenize_series(texts)
    lens = toks.map(len).to_numpy(dtype=np.int64)
    total = int(lens.sum())
    empty = pd.DataFrame(
        {
            "term": pd.Series([], dtype=object),
            "doc_id": pd.Series([], dtype="int64"),
            "tf": pd.Series([], dtype="int32"),
            "dl": pd.Series([], dtype="int32"),
        }
    )
    if total == 0:
        return empty
    # factorize tokens (C hash table), then count (doc, term-code) pairs via
    # one int64 sort — ~2.3x faster than explode+groupby on the same batch
    flat = np.empty(total, dtype=object)
    pos = 0
    for t in toks.values:
        n = len(t)
        flat[pos : pos + n] = t
        pos += n
    codes, uniques = pd.factorize(flat, sort=False)
    docrep = np.repeat(doc_ids.to_numpy(dtype=np.int64), lens)
    dlrep = np.repeat(lens, lens)
    key = docrep * len(uniques) + codes
    order = np.argsort(key, kind="stable")
    ks = key[order]
    starts = np.flatnonzero(np.concatenate(([True], ks[1:] != ks[:-1])))
    counts = np.diff(np.append(starts, ks.size)).astype("int32")
    sel = order[starts]
    return pd.DataFrame(
        {
            "term": uniques[codes[sel]],
            "doc_id": docrep[sel],
            "tf": counts,
            "dl": dlrep[sel].astype("int32"),
        }
    )


# --- doc-id contract ----------------------------------------------------------
# Dense doc ids are assigned per LOGICAL url group: group = md5_60bit(url) mod
# p_logical (an INDEX-FORMAT PARAMETER, NOT the cluster width), ids dense in
# (group, url) order. Fully deterministic and portable: the oracle replays it
# in pure Python, and the same corpus gets the same ids on any cluster size.
# Engine side, groups shuffle by hash — no range-boundary sampling, no corpus
# persist, and the counts pass reads only the url column.
#
# p_logical is pinned PER INDEX (recorded in the index manifest —
# catalog.py, operators.index_build): doc ids derive from it, so resuming or
# appending under a different value would renumber documents. Sizing rule at
# scale: each group must land whole in one shuffle partition and be sorted
# there, so choose p_logical ~= total_extracted_text_bytes / 512 MB (e.g.
# 10^12 docs x ~2 KB text -> p_logical ~= 4M). The default of 1024 suits
# sandbox/test corpora; it is a per-build argument, not a constant to edit.

P_LOGICAL = 1024  # default only — the recorded per-index value governs


def url_group(url: str, p_logical: int = P_LOGICAL) -> int:
    """Logical url group — MUST match Spark's
    conv(substring(md5(url),1,15),16,10) % p_logical."""
    import hashlib

    return int(hashlib.md5(url.encode("utf-8")).hexdigest()[:15], 16) % p_logical


def url_sort_key(url: str, p_logical: int = P_LOGICAL) -> tuple[int, str]:
    """Total order that defines dense doc ids: (group, url)."""
    return (url_group(url, p_logical), url)


# --- BM25 math ---------------------------------------------------------------
# One formula, float64, used by the oracle and the WAND engine.
# idf per Robertson/Sparck-Jones as used by Lucene: ln(1 + (N - df + 0.5)/(df + 0.5)).


def bm25_idf(df: np.ndarray | float, n_docs: int) -> np.ndarray | float:
    return np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_tf_norm(tf, dl, avgdl: float, k1: float = 1.2, b: float = 0.75):
    """tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) — the idf-free factor.

    Monotonically increasing in tf and bounded by (k1+1); per-block maxima of
    this quantity are the block-max WAND upper bounds.
    """
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
