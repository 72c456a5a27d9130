"""The Arrow-batched parse kernel (one ``mapInPandas`` over page batches).

One Python tokenizer pass per document, Arrow-batch transfer, no per-row
Python in the driver loop (input_hint requirement). :func:`parse_pages`
consumes pages joined with their frontier context, picks the parser by each
row's ``kind`` and emits one tagged-union schema, so a crawl wave runs one
Python stage whatever mix of kinds it fetched.

Design notes for scale:
- ``mapInPandas`` keeps the parse in executor-side Python workers; batch size
  is governed by ``spark.sql.execution.arrow.maxRecordsPerBatch``.
- The expensive pre-filter trick (Sparser-style raw filtering, SURVEY.md §4):
  callers ``.filter(marker_ok())`` *before* the kernel so Catalyst prunes
  non-parseable pages without invoking Python.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Iterator, List

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from edgar_spark.model.schemas import DOC_PRIORITY
from edgar_spark.parse.docs import (
    filing_index_parse,
    fin_report_facts,
    query_page_parse,
)

# the substring each kind's parser needs; a page without it yields nothing
_MARKERS = {"query": "interactiveDataBtn", "index": "var reports", "report": "defref"}

_CONTEXT = [
    "kind",
    "cik",
    "ticker",
    "filing_type",
    "seed_seq",
    "type_seq",
    "filing_date",
    "accession",
    "doc_type",
]

# Context columns, then the union of the per-kind outputs:
# * query  → one row per (filing_date → viewer link); accession and doc_type
#   null, doc_seq 0;
# * index  → one row per classified doc type, doc_seq in the pinned canonical
#   order (DOC_PRIORITY), link = the report URL;
# * report → the row-level fact candidates (seq, fin_type, value) in document
#   order, doc_seq = the doc type's priority; link null.
# ``error`` is null on all of these. A page whose parser raises yields one
# row instead, holding only its context and the exception's class name.
PARSED_SCHEMA = StructType(
    [
        StructField("kind", StringType()),
        StructField("cik", StringType()),
        StructField("ticker", StringType()),
        StructField("filing_type", StringType()),
        StructField("seed_seq", IntegerType()),
        StructField("type_seq", IntegerType()),
        StructField("filing_date", StringType()),
        StructField("accession", StringType()),
        StructField("doc_type", StringType()),
        StructField("doc_seq", IntegerType()),
        StructField("link", StringType()),
        StructField("seq", IntegerType()),
        StructField("fin_type", StringType()),
        StructField("value", DoubleType()),
        StructField("error", StringType()),
    ]
)


def marker_ok() -> Column:
    """True where a page's text holds its kind's marker (:data:`_MARKERS`)."""
    kind, text = F.col("kind"), F.col("text")
    return reduce(
        operator.or_, [(kind == k) & text.contains(m) for k, m in _MARKERS.items()]
    )


def _parse_rows(t) -> List[tuple]:
    ctx = (t.kind, t.cik, t.ticker, t.filing_type, t.seed_seq, t.type_seq)
    try:
        rows = list(_kind_rows(t, t.text or ""))
    except (ValueError, IndexError, KeyError) as e:
        # Go panics; here the page yields one error row
        return [ctx + (t.filing_date, t.accession) + (None,) * 6 + (type(e).__name__,)]
    return [ctx + row for row in rows]


def _kind_rows(t, text: str) -> Iterator[tuple]:
    """The rows of one page after its context columns."""
    if t.kind == "query":  # queryPageParser (parser.go:34-53)
        for date, href in query_page_parse(text, t.filing_type).items():
            yield (date, None, None, 0, href, None, None, None, None)
    elif t.kind == "index":  # filingPageParser + mapReports (parser.go:86-127)
        for doc_type, url in filing_index_parse(text, t.filing_type).items():
            prio = DOC_PRIORITY.get(doc_type, 99)
            yield (t.filing_date, t.accession, doc_type, prio, url, None, None, None, None)
    elif t.kind == "report":  # finReportParser (parser.go:326-347)
        facts, _scales = fin_report_facts(text, t.doc_type)
        prio = DOC_PRIORITY.get(t.doc_type, 99)
        for seq, ft, val in facts:
            yield (t.filing_date, t.accession, t.doc_type, prio, None, seq, ft, val, None)


def parse_pages(df: DataFrame) -> DataFrame:
    """Parse every page by its ``kind`` into :data:`PARSED_SCHEMA` rows.

    Input columns: kind, cik, ticker, filing_type, seed_seq, type_seq,
    filing_date, accession, doc_type, text. Rows of another kind yield
    nothing; a page whose parser raises yields one row with ``error`` set.
    Report rows are all row-level fact candidates; consolidation
    applies the zero-guard reduction.
    """
    cols = [f.name for f in PARSED_SCHEMA.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [r for t in pdf.itertuples(index=False) for r in _parse_rows(t)]
            yield pd.DataFrame(rows, columns=cols)

    return df.select(*_CONTEXT, "text").mapInPandas(gen, schema=PARSED_SCHEMA)


def facts_of(parsed: DataFrame) -> DataFrame:
    """The FACTS_SCHEMA rows of a :func:`parse_pages` output."""
    return parsed.filter((F.col("kind") == "report") & F.col("error").isNull()).select(
        "cik",
        "ticker",
        "filing_type",
        "filing_date",
        "accession",
        "doc_type",
        F.col("doc_seq").alias("doc_priority"),
        "seq",
        "fin_type",
        "value",
    )
