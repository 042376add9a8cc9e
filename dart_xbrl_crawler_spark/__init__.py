"""dart_xbrl_crawler_spark — a PySpark-native crawl-frontier + extract engine.

A from-scratch re-expression of the capabilities of
``hansol-data-platform/dart-xbrl-crawler`` (a sequential single-process
DART disclosure crawler, surveyed in SURVEY.md) as idiomatic Spark
dataflow:

* an Iceberg/parquet-snapshot **URL frontier** with URL-seen dedup via a
  partitioned cuckoo filter keyed by ``xxhash64(url_canon)``,
* a **politeness scheduler** (per-host budgets, robots rules) expressed
  as a window top-k + salted repartition,
* a vectorized **extract kernel** (zipped XBRL-style payload → long fact
  table) as Arrow-batched ``mapInPandas``,
* partitioned parquet sinks mirroring the reference's Hive layout
  (/root/reference/s3_uploader.py:141-149).

Everything is DataFrame-first: built-in ``pyspark.sql.functions`` in the
hot path, pandas UDFs only for parse/canonicalize, no per-row Python.
"""

__version__ = "0.1.0"
