"""HTTP fetch post-processing — MIME sniffing and response-header parsing.

A crawl wave lands raw (payload bytes, header text) pairs; before anything
downstream touches them the engine must decide WHAT each payload is (route
HTML to the parsers, media and junk away from them) and pull the
caching/freshness fields (ETag, Last-Modified) that feed
`frontier.schedule.recrawl_schedule`. The reference never needs either —
it fetches only known-HTML SEC pages (page.go:21-28) — but an open-web
frontier without content-type routing parses GIFs as HTML.

Both operators are pure column expressions: the magic-byte table compiles
to a codegen'd CASE over a hex prefix, header fields to anchored multiline
regex extracts. Zero shuffles, zero Python — at 100 TB these run inside
the fetch wave's existing scan and cost only the bytes they touch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (uppercase hex prefix of the payload) -> MIME type; first match wins.
# WHATWG-sniffing-inspired subset: the unambiguous byte-pattern table.
MAGIC_TABLE: list[tuple[str, str]] = [
    ("89504E47", "image/png"),
    ("FFD8FF", "image/jpeg"),
    ("474946383761", "image/gif"),
    ("474946383961", "image/gif"),
    ("255044462D", "application/pdf"),
    ("504B0304", "application/zip"),
    ("1F8B", "application/gzip"),
    ("4F676753", "application/ogg"),
    ("424D", "image/bmp"),
]

# bytes 0x09 0x0A 0x0D and 0x20-0x7E as uppercase hex pairs — the
# "printable ASCII" test runs on the hex string so it never decodes
# arbitrary bytes (hex() is total; decode() is not).
_PRINTABLE_HEX_RE = (
    "^(09|0A|0D|2[0-9A-F]|3[0-9A-F]|4[0-9A-F]|5[0-9A-F]|6[0-9A-F]|7[0-9A-E])*$"
)


def sniff_mime_col(payload: Column, window: int = 64) -> Column:
    """MIME type of a binary payload from its first ``window`` bytes.

    Precedence: magic-byte table (incl. the RIFF/WAVE, RIFF/AVI and MP4
    ``ftyp`` container checks at their fixed offsets) → printable-ASCII
    text fallback (leading ``<`` after whitespace ⇒ ``text/html``, else
    ``text/plain``) → ``application/octet-stream``.

    The decode in the text branch is guarded by the hex-level printable
    check, so the expression never decodes invalid bytes on either
    engine (DuckDB's ``decode`` throws on malformed UTF-8; CASE branches
    evaluate lazily in both).
    """
    head_hex = F.hex(F.substring(payload, 1, window))
    expr = None
    for prefix, mime in MAGIC_TABLE:
        cond = head_hex.startswith(prefix)
        expr = F.when(cond, mime) if expr is None else expr.when(cond, mime)
    # containers with a type tag at a fixed offset
    riff_tag = F.hex(F.substring(payload, 9, 4))
    expr = expr.when(
        head_hex.startswith("52494646") & (riff_tag == "57415645"), "audio/wav"
    ).when(
        head_hex.startswith("52494646") & (riff_tag == "41564920"), "video/avi"
    ).when(
        # ftyp is gated on a plausible big-endian box size (first two
        # bytes zero, per WHATWG's size sanity check) — otherwise plain
        # text containing 'ftyp' at offset 5 would route as video
        head_hex.startswith("0000")
        & (F.hex(F.substring(payload, 5, 4)) == "66747970"),
        "video/mp4",
    )
    printable = head_hex.rlike(_PRINTABLE_HEX_RE)
    head_txt = F.decode(F.substring(payload, 1, window), "UTF-8")
    # regex skip, not ltrim: ltrim strips spaces only, HTML pages indent
    # with tabs/newlines too
    return (
        expr.when(printable & head_txt.rlike(r"^[ \t\r\n]*<"), "text/html")
        .when(printable, "text/plain")
        .otherwise("application/octet-stream")
    )


def sniff_mime(
    df: DataFrame, payload_col: str = "payload", window: int = 64
) -> DataFrame:
    """Add a ``mime`` column sniffed from ``payload_col``'s leading bytes."""
    return df.withColumn("mime", sniff_mime_col(F.col(payload_col), window))


def _header(raw: Column, name: str) -> Column:
    """Value of the first ``name:`` header line, case-insensitive, or NULL."""
    return F.nullif(
        F.trim(F.regexp_extract(raw, rf"(?im)^{name}[ \t]*:[ \t]*([^\r\n]*)", 1)),
        F.lit(""),
    )


def parse_http_headers(df: DataFrame, raw_col: str = "raw") -> DataFrame:
    """Parse a raw HTTP/1.x response head into typed columns.

    Adds: ``status`` (int, NULL when the status line is absent),
    ``content_type``, ``content_length`` (bigint), ``etag``,
    ``last_modified``, ``location`` (each NULL when missing) and
    ``n_headers`` (count of ``Name:`` lines). Header names match
    case-insensitively per RFC 9110; values are trimmed with CR kept out
    via the ``[^\\r\\n]`` value class, so CRLF and LF framings parse
    identically.

    ``etag``/``last_modified`` feed conditional-revisit scheduling
    (`frontier.schedule.recrawl_schedule`); ``location`` feeds redirect
    resolution (`operators.graph.resolve_redirects`).
    """
    raw = F.col(raw_col)
    return (
        df.withColumn(
            "status",
            F.nullif(
                F.regexp_extract(raw, r"^HTTP/[0-9.]+[ \t]+([0-9]{3})", 1), F.lit("")
            ).cast("int"),
        )
        .withColumn("content_type", _header(raw, "content-type"))
        .withColumn(
            "content_length", _header(raw, "content-length").cast("bigint")
        )
        .withColumn("etag", _header(raw, "etag"))
        .withColumn("last_modified", _header(raw, "last-modified"))
        .withColumn("location", _header(raw, "location"))
        .withColumn(
            "n_headers",
            F.size(
                F.regexp_extract_all(
                    raw, F.lit(r"(?m)^[A-Za-z][A-Za-z0-9-]*[ \t]*:"), F.lit(0)
                )
            ),
        )
    )


_HTTP_DATE_FMT = "dd MMM yyyy HH:mm:ss zzz"


def _http_date_s(val: Column) -> Column:
    """IMF-fixdate header value → UTC epoch seconds (bigint, NULL on
    malformed). Spark's post-3.0 parser refuses ``EEE`` as a PARSE token
    (day-of-week is format-only), so the ``Mon, `` prefix is stripped by
    regexp first; the ``zzz`` zone token parses the literal ``GMT``, so
    the result is session-timezone-independent — the property that lets
    an engine-independent oracle replay it exactly. ``try_to_timestamp``
    (not ``unix_timestamp(str, fmt)``) because web-crawl headers WILL be
    malformed and ANSI mode must yield NULL, not a task failure."""
    return F.try_to_timestamp(
        F.regexp_replace(val, r"^[A-Za-z]{3}, ", ""), F.lit(_HTTP_DATE_FMT)
    ).cast("long")


def cache_freshness(
    df: DataFrame,
    raw_col: str = "raw",
    fetched_at_col: str = "fetched_at",
    heuristic_div: int = 10,
) -> DataFrame:
    """RFC 9111 freshness lifetime from response headers — what decides
    when a stored capture goes stale and `frontier.schedule
    .conditional_fetch` must revalidate it (the reference never
    revisits; its corpus is immutable filings).

    Precedence per §4.2.1/§4.2.2, for a shared (crawler) cache:

    * ``Cache-Control: no-store`` / ``no-cache`` / ``private`` →
      uncacheable (lifetime 0, ``source='none'``);
    * ``s-maxage=N`` (shared caches outrank max-age), else ``max-age=N``
      — numeric values longer than 18 digits (crawl junk that would
      overflow or ANSI-crash a bigint cast) clamp to a one-year cap,
      the safe side (revalidate sooner than a bogus eternity);
    * else, when an ``Expires`` header is PRESENT: ``Expires − Date``
      clamped at 0 — and an unparsable Expires (``Expires: 0``, the
      common do-not-cache idiom) means **already stale** per §5.3, it
      does NOT fall through to the heuristic;
    * else the §4.2.2 heuristic: ``(Date − Last-Modified) / 10``
      (``heuristic_div``, integer division);
    * nothing usable → lifetime 0.

    Adds: ``cacheable`` (bool), ``lifetime_s``/``age_s`` (bigint),
    ``fresh_until`` (bigint epoch: ``fetched_at + lifetime − age``;
    an 18+-digit ``Age`` clamps HIGH so the entry reads as long-stale),
    and ``freshness_source`` ∈ {'cache-control','expires','heuristic',
    'none'}. All integer arithmetic over regexp extracts and
    IMF-fixdate parses — exact in any engine, and every cast is
    length-guarded so hostile headers yield clamped values, never an
    ANSI task failure; one per-row projection, zero shuffles.
    """
    raw = F.col(raw_col)
    cc = F.lower(F.coalesce(_header(raw, "cache-control"), F.lit("")))
    no_cache = (
        cc.contains("no-store") | cc.contains("no-cache")
        | cc.contains("private")
    )
    year = F.lit(31_536_000).cast("bigint")

    def _digits(col: Column, absurd: Column) -> Column:
        """Digit string → bigint; >18 digits would ANSI-crash or overflow
        the cast, so clamp to ``absurd`` (direction chosen per field).
        NULL stays NULL — a bare when/otherwise would send the NULL
        branch to the clamp."""
        return F.when(
            col.isNotNull() & (F.length(col) <= 18), col.cast("bigint")
        ).when(col.isNotNull(), absurd)

    s_maxage = _digits(
        F.nullif(F.regexp_extract(cc, r"s-maxage=(\d+)", 1), F.lit("")),
        year,
    )
    # leading-boundary alternation, NOT a lookbehind — RE2 engines (the
    # DuckDB oracle) have no lookbehind, and this must replay exactly
    max_age = _digits(
        F.nullif(
            F.regexp_extract(cc, r"(?:^|[ ,])max-age=(\d+)", 1), F.lit("")
        ),
        year,
    )
    cc_age = F.coalesce(s_maxage, max_age)
    date_s = _http_date_s(_header(raw, "date"))
    expires_s = _http_date_s(_header(raw, "expires"))
    lm_s = _http_date_s(_header(raw, "last-modified"))
    has_expires = _header(raw, "expires").isNotNull()
    age_s = F.coalesce(
        _digits(
            F.nullif(
                F.regexp_extract(
                    F.coalesce(_header(raw, "age"), F.lit("")), r"^(\d+)$", 1
                ),
                F.lit(""),
            ),
            # an absurd Age errs STALE: clamp high (still overflow-safe
            # in fetched_at + lifetime - age, all < 2^63)
            F.lit(10**18).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
    )
    lifetime = (
        F.when(no_cache, F.lit(0).cast("bigint"))
        .when(cc_age.isNotNull(), cc_age)
        .when(
            has_expires,
            # present-but-unparsable (or Date-less) Expires = already
            # past (§5.3); never falls through to the heuristic
            F.when(
                expires_s.isNotNull() & date_s.isNotNull(),
                F.greatest(expires_s - date_s, F.lit(0).cast("bigint")),
            ).otherwise(F.lit(0).cast("bigint")),
        )
        .when(
            lm_s.isNotNull() & date_s.isNotNull(),
            F.greatest(
                ((date_s - lm_s) / heuristic_div).cast("bigint"),
                F.lit(0).cast("bigint"),
            ),
        )
        .otherwise(F.lit(0).cast("bigint"))
    )
    source = (
        F.when(no_cache, F.lit("none"))
        .when(cc_age.isNotNull(), F.lit("cache-control"))
        .when(has_expires, F.lit("expires"))
        .when(lm_s.isNotNull() & date_s.isNotNull(), F.lit("heuristic"))
        .otherwise(F.lit("none"))
    )
    return (
        df.withColumn("cacheable", ~no_cache)
        .withColumn("lifetime_s", lifetime)
        .withColumn("age_s", age_s)
        .withColumn(
            "fresh_until",
            (F.col(fetched_at_col).cast("bigint") + lifetime - age_s),
        )
        .withColumn("freshness_source", source)
    )


# soft-404 pattern tables — deliberately small, documented, and kept
# RE2-safe (no lookaround) so the DuckDB oracle replays them verbatim.
SOFT404_TITLE_RE = (
    r"(?is)<title>[^<]*(?:404|not\s+found|no\s+longer\s+available)"
    r"[^<]*</title>"
)
SOFT404_BODY_RE = (
    r"(?is)page\s+not\s+found|error\s+404|404\s+error|"
    r"does\s+not\s+exist|no\s+longer\s+available"
)
SOFT404_BODY_WINDOW = 2048


def soft404(
    df: DataFrame,
    status_col: str = "status",
    html_col: str = "html",
    min_html_len: int = 256,
) -> DataFrame:
    """Soft-404 detection: pages served with HTTP 200 whose CONTENT says
    "not found" — the classic crawl-quality trap (misconfigured servers
    answer every path with a 200 error page, and without this check the
    frontier archives an unbounded family of identical junk pages and
    the dedup stage pays for it downstream; hard 404s are already
    routed by the status code and are NOT flagged here).

    A 200 page is flagged when its ``<title>`` matches a not-found
    pattern, else when the first ``SOFT404_BODY_WINDOW`` chars of the
    body do, else when the whole document is shorter than
    ``min_html_len`` chars (stub pages). Adds ``soft404_reason``
    (``'title'``/``'body'``/``'tiny'``, first match wins, NULL when
    clean or non-200) and ``soft404``. Pure codegen regex/CASE over the
    scan — zero shuffle, zero Python, replayed verbatim in the
    ``soft404_detect`` driver oracle."""
    h = F.col(html_col)
    reason = (
        F.when(
            F.col(status_col) != 200, F.lit(None).cast("string")
        )
        .when(h.rlike(SOFT404_TITLE_RE), F.lit("title"))
        .when(
            F.substring(h, 1, SOFT404_BODY_WINDOW).rlike(SOFT404_BODY_RE),
            F.lit("body"),
        )
        .when(F.length(h) < min_html_len, F.lit("tiny"))
        .otherwise(F.lit(None).cast("string"))
    )
    return df.withColumn("soft404_reason", reason).withColumn(
        "soft404", F.col("soft404_reason").isNotNull()
    )
