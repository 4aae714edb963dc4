"""podcast_plow_spark — a PySpark-native URL-frontier & fetch-scheduler
analytics engine with the query/data-processing capabilities of the
reference (mbonden/podcast-plow), re-expressed Spark-first.

Subpackages
-----------
functions  : scalar/vectorized kernels (URL canonicalization, text
             normalization, fingerprints, backoff math, ...)
operators  : relational operators (frontier priority queue, dedup
             families, windows, grading UDAF, seen-set filter, ANN)
sources    : seed lists, feed parsing, snapshot store (Iceberg-style
             atomic-commit fallback on parquet), synthetic image table
crawl      : the epoch-driven crawl engine + the sequential oracle
plans      : plan inspection/assertion helpers (explain auditing)
streaming  : structured-streaming seed ingestion into the crawl engine
"""

__version__ = "0.1.0"
