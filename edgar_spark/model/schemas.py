"""Canonical schemas for the engine's five tables (SURVEY.md §1.3).

``pages`` is the BASELINE.json input_hint shape; the rest flatten the
reference's object model (folder.go:13-19, report.go:8-56) into relations.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from edgar_spark.parse.meta import FIELDS

# input_hint: (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# page.go:30-39 getCompanyCIK — pre-resolved (ticker → zero-padded 10-digit cik)
SEEDS_SCHEMA = StructType(
    [
        StructField("ticker", StringType(), False),
        StructField("cik", StringType(), False),
        StructField("seed_seq", IntegerType(), False),
    ]
)

# The URL frontier (replaces FilingLinks maps + implicit fetch queue).
# priority tuple = (seed_seq, type_seq, date_sort, doc_seq): per-ticker seed
# order, per filing type, filing dates DESC (folder.go:128-131), docs in the
# canonical order Entity,BS,CF,Ops,Inc,notes (pinned; see SURVEY.md §7 risk 2).
FRONTIER_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("kind", StringType(), False),  # query | index | report
        StructField("cik", StringType(), True),
        StructField("ticker", StringType(), True),
        StructField("filing_type", StringType(), True),
        StructField("accession", StringType(), True),
        StructField("filing_date", StringType(), True),  # canonical yyyy-MM-dd
        StructField("doc_type", StringType(), True),
        StructField("seed_seq", IntegerType(), True),
        StructField("type_seq", IntegerType(), True),
        StructField("date_sort", LongType(), True),  # days-desc sort key
        StructField("doc_seq", IntegerType(), True),
        StructField("state", StringType(), False),  # pending|fetched|missing|robots_blocked
        StructField("wave", IntegerType(), True),  # wave the url was fetched in
        StructField("wave_added", IntegerType(), True),  # wave the url was discovered in (-1 = seed)
        StructField("host", StringType(), True),
        StructField("bucket", IntegerType(), True),  # politeness bucket (salted)
    ]
)

# One row per accepted (row-level) fact candidate, pre-consolidation.
FACTS_SCHEMA = StructType(
    [
        StructField("cik", StringType(), True),
        StructField("ticker", StringType(), True),
        StructField("filing_type", StringType(), True),
        StructField("filing_date", StringType(), True),
        StructField("accession", StringType(), True),
        StructField("doc_type", StringType(), True),
        StructField("doc_priority", IntegerType(), True),
        StructField("seq", IntegerType(), True),
        StructField("fin_type", StringType(), True),
        StructField("value", DoubleType(), True),
    ]
)

# Wide per-filing row: 26 nullable doubles (NULL = presence bit unset,
# 0.0 = collected zero — SURVEY.md §1.4) + derived metadata.
FILINGS_SCHEMA = StructType(
    [
        StructField("cik", StringType(), True),
        StructField("ticker", StringType(), True),
        StructField("filing_type", StringType(), True),
        StructField("filing_date", StringType(), True),
        StructField("accession", StringType(), True),
    ]
    + [StructField(f.col, DoubleType(), True) for f in FIELDS]
    + [
        StructField("collected", ArrayType(StringType()), True),
        StructField("validation_error", StringType(), True),
    ]
)

DOC_PRIORITY = {
    "Entity Info": 0,
    "Assets": 1,
    "Cash Flow": 2,
    "Operations": 3,
    "Income": 4,
    "Notes on EPS": 5,
    "Notes on Equity": 6,
    "Notes on Debt": 7,
}
