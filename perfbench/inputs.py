"""Seeded inputs shared by the workloads and the layer probe."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd


def write_pages(pdf: pd.DataFrame, path: str, files: int = 4) -> str:
    """Pages frame -> a parquet directory of ``files`` files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), files)):
        table = pa.Table.from_pandas(pdf.iloc[part], preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i}.parquet"))
    return path


def zipf_queries(seed: int, tag: int, n: int) -> pd.DataFrame:
    """Head-heavy queries: 1-4 terms drawn from the corpus's own Zipf term
    distribution, so most draws land on the few most frequent terms."""
    from information_retrieval_images_spark.fixtures import VOCAB_SIZE, ZIPF_S

    pmf = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** (-ZIPF_S)
    cdf = np.cumsum(pmf / pmf.sum())
    rng = np.random.default_rng([seed, tag])
    rows = []
    for q in range(n):
        ranks = np.minimum(np.searchsorted(cdf, rng.random(int(rng.integers(1, 5)))), VOCAB_SIZE - 1)
        rows.append((q, " ".join(f"term{int(r):06d}" for r in ranks), 10))
    return pd.DataFrame(rows, columns=["query_id", "query_text", "k"])
