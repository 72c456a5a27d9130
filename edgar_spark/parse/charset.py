"""Charset sniffing + byte→text decoding for crawled pages.

A Common-Crawl-style corpus stores ``html`` as raw bytes (the input
table is (url, warc_ts, html:binary, text, lang)); turning those bytes
into the ``text`` column is the first step of every webtext pipeline,
and the web is not UTF-8 — legacy cp1252/latin-1 pages and UTF-16
exports are routine at 100 TB. The Go reference never faces this
(net/http hands it ASCII EDGAR pages — reference parser.go:34-53 goes
straight to the markup); this module is the crawl-engine-side
generalization.

Sniffing precedence is a documented simplification of WHATWG encoding
sniffing (https://encoding.spec.whatwg.org/#determine-the-encoding):

1. BOM — UTF-8 (EF BB BF) or UTF-16 LE/BE (FF FE / FE FF) always wins,
   even over the transport header (the spec's rule: a BOM is "more
   authoritative than anything else").
2. Transport charset — the HTTP ``Content-Type`` ``charset=`` param —
   when the caller passes one.
3. ``<meta charset=…>`` / ``http-equiv`` content charset, scanned over
   the first 1024 bytes (the WHATWG prescan window); the attribute
   bytes themselves are ASCII-compatible in every supported encoding.
4. UTF-8 fallback.

Unknown or unsupported labels fall through to the next source rather
than erroring; byte errors decode with U+FFFD replacement
(``errors='replace'``) — one mojibake page must not kill a 100 TB task.
The label table is a deliberately small, documented subset of the WHATWG
encoding registry (the long tail falls through to UTF-8).

Decoding needs Python codecs, so ``decode_html`` is an Arrow-batched
``mapInPandas`` — the declared slow-path exception (a codec cannot be a
JVM expression), batched, never per-row Python UDFs. The per-page cost
is O(bytes) with no shuffle: the operator is a map over the scan, so it
pipelines into whatever filter/projection follows and scales linearly
with executors.
"""

from __future__ import annotations

import re
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame

__all__ = ["sniff_charset", "decode_bytes", "decode_html", "nfc_normalize"]

# WHATWG-style label → Python codec (lowercased, quotes stripped).
_LABELS = {
    "utf-8": "utf-8",
    "utf8": "utf-8",
    "iso-8859-1": "latin-1",
    "iso8859-1": "latin-1",
    "latin-1": "latin-1",
    "latin1": "latin-1",
    "l1": "latin-1",
    "windows-1252": "cp1252",
    "cp1252": "cp1252",
    "x-cp1252": "cp1252",
    "us-ascii": "ascii",
    "ascii": "ascii",
    "utf-16": "utf-16",
    "utf-16le": "utf-16-le",
    "utf-16be": "utf-16-be",
}

# charset=… inside the prescan window; attribute order / tag shape are
# irrelevant at the byte level (same simplification headmeta documents).
_META_RE = re.compile(rb"charset\s*=\s*[\"']?([A-Za-z0-9_.:-]+)", re.I)

_PRESCAN = 1024


def _label_to_codec(label: "Optional[str]") -> "Optional[str]":
    if not label:
        return None
    return _LABELS.get(label.strip().strip("\"'").lower())


def sniff_charset(payload: bytes, transport: "Optional[str]" = None) -> str:
    """Python codec name for *payload* per the module's precedence."""
    if payload[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if payload[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16"  # the utf-16 codec consumes either-endian BOM
    codec = _label_to_codec(transport)
    if codec:
        return codec
    m = _META_RE.search(payload[:_PRESCAN])
    if m:
        codec = _label_to_codec(m.group(1).decode("ascii", "replace"))
        if codec:
            return codec
    return "utf-8"


def decode_bytes(
    payload: "Optional[bytes]", transport: "Optional[str]" = None
) -> "tuple[Optional[str], Optional[str]]":
    """(codec, text) for one payload; NULL payload → (None, None)."""
    if payload is None:
        return None, None
    raw = bytes(payload)
    codec = sniff_charset(raw, transport)
    return codec, raw.decode(codec, errors="replace")


def decode_html(
    df: DataFrame,
    payload_col: str = "html",
    id_col: str = "doc_id",
    transport_col: "Optional[str]" = None,
) -> DataFrame:
    """(id, charset_used, text) decoded from a binary page column.

    *transport_col* optionally names a string column carrying the HTTP
    Content-Type charset label (precedence rule 2). One Arrow batch in,
    one out; map-only, no shuffle.
    """
    cols = [id_col, payload_col] + ([transport_col] if transport_col else [])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, charsets, texts = [], [], []
            trs = (
                list(pdf[transport_col])
                if transport_col
                else [None] * len(pdf)
            )
            for mid, p, t in zip(pdf[id_col], pdf[payload_col], trs):
                c, s = decode_bytes(p, t)
                ids.append(mid)
                charsets.append(c)
                texts.append(s)
            yield pd.DataFrame(
                {id_col: ids, "charset_used": charsets, "text": texts}
            )

    return df.select(*cols).mapInPandas(
        gen, schema=f"{id_col} long, charset_used string, text string"
    )


def nfc_normalize(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode NFC normalization (UAX #15) — the standard webtext-curation
    preprocessing step (CCNet-style pipelines): combining sequences
    compose (``e`` + U+0301 → ``é``) so downstream byte-level hashing /
    exact dedup sees one spelling per grapheme instead of splitting
    identical text across NFC/NFD sources. Spark SQL has no JVM-side
    normalizer, so this is the module's other declared slow-path
    exception: an Arrow-batched pandas UDF over
    ``unicodedata.normalize``; DuckDB's ``nfc_normalize`` replays it
    exactly in the driver oracle (both implement UAX #15). Adds
    ``norm_text`` and ``changed`` (NULL text stays NULL). Map-only —
    fuses into the scan, no shuffle."""
    import unicodedata

    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: None if x is None else unicodedata.normalize("NFC", x)
        )

    return (
        df.select(id_col, text_col)
        .withColumn("norm_text", _nfc(F.col(text_col)))
        .withColumn("changed", F.col("norm_text") != F.col(text_col))
    )
