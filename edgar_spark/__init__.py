"""edgar_spark — a PySpark-native EDGAR crawl/extract analytics engine.

A from-scratch re-expression of the semantics of the reference Go engine
(palafrank/edgar, mirrored read-only at /root/reference) on Spark:

- ``edgar_spark.parse``     pure-Python HTML parse kernels (no Spark deps) that
  replicate the reference tokenizer-walk semantics byte-for-byte.
- ``edgar_spark.model``     relational schemas + facts→filings consolidation
  expressed as DataFrame ops (window dedup, conditional agg, coalesce).
- ``edgar_spark.operators`` Arrow-vectorized UDF wrappers plus the
  training-data-pipeline operators (dedup, similarity, text analysis).
- ``edgar_spark.frontier``  the 10^10-design-scale URL frontier: priority
  queue, bloom URL-seen, politeness buckets, robots gating, wave scheduler.
- ``edgar_spark.icelite``   Iceberg-style snapshot/manifest table layout over
  Parquet (sandbox fallback: no Iceberg runtime jar is bundled here).
- ``edgar_spark.synth``     deterministic synthetic page-corpus generator used
  by tests and benchmarks (no network access in this environment).
"""

__version__ = "0.1.0"
