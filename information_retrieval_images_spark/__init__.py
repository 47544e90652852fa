"""information_retrieval_images_spark — a PySpark-native fulltext engine.

A from-scratch inverted-index build + BM25 top-k query engine over
Common-Crawl-style web pages, re-expressing the capabilities of the
reference repo ``BenjaminRichter-g/Information_Retrieval_Images``
(corpus ingest -> per-doc extraction UDF -> index build -> top-k scored
search -> ranking evaluation -> incremental resume) Spark-first:

- DataFrame/SQL plans optimized by Catalyst (scans, filters, joins, aggs,
  global top-k); no RDD hot path, no per-row Python UDFs.
- Custom kernels (HTML->text extraction, tokenization, SPIMI posting-run
  generation, delta-gap+varint block codec, block-max WAND BM25 scoring)
  live inside vectorized Arrow/pandas UDFs.
- Custom *data layout* instead of custom Catalyst rules: term-range
  partitioned, doc-sorted, block-compressed posting lists with per-block
  max-score metadata (the skipping analogue of the reference's IVF_FLAT
  nprobe pruning, vector_db.py:33-42).

Package map:
- ``textproc``   shared extraction/tokenization kernels (engine + oracle)
- ``fixtures``   deterministic synthetic webtext corpus + query set
- ``oracle``     single-process exhaustive BM25 reference scorer
- ``codec``      delta-gap + varint posting-block codec (numpy)
- ``session``    tuned SparkSession builders
- ``catalog``    manifest-pinned parquet table IO (the commit point)
- ``sources``    pages corpus reader/generator
- ``operators``  index build, BM25 query engine, dedup, ANN
- ``functions``  text analysis / similarity column functions
"""

__version__ = "0.1.0"

K1 = 1.2
B = 0.75
BLOCK_SIZE = 128

# Index on-disk format version, recorded in the manifest and checked by every
# reader: bump whenever the physical layout changes incompatibly. History:
#   1  r1: per-posting (docs/tfs/dls) varint blocks
#   2  r2: + per-block (max_tf, min_dl) bounds
#   3  r3: + term-prefix (tp) partition dirs, incremental stats_global
#   4  r4: per-posting dls_enc removed (doclens sidecar per (bucket,
#      doc_group)); p_logical recorded as a format parameter
#   5  r5: term-prefix modulus (tp_n) recorded as a format parameter — the
#      tp directory layout is computed from it at build AND query time, so
#      changing the module default against an existing index would silently
#      miss postings (same bug class as the r4 p_logical fix)
#   6  one commit point: immutable bucket versions <table>/bucket=B/v=<id>
#      published by an atomic _manifest/<seq>.json that also carries the
#      global stats (the checkpoints and stats_global tables are gone)
#   7  the postings are the only copy of document content: docs has no
#      text column (the extracted text lives in a build-only stage until
#      the build completes), and blocks drop their build-time tf-norm
#      bound (queries bound blocks by (max_tf, min_dl))
#   8  no per-bucket stats table: a term's df is the sum of n_docs over its
#      postings blocks, summed at query time (Catalog.term_dfs)
#   9  one per-document table: every docs file is sorted by doc_id and the
#      query kernels read dl from it (the doclens sidecar is gone); docs is
#      a manifest-pinned parquet version in both catalog modes
#  10  postings are manifest-pinned parquet versions in every warehouse
#      (the Iceberg postings mode is gone)
INDEX_FORMAT = 10
