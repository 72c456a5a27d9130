"""Document-level parse kernels: query page, CIK page, filing index
(viewer accordion), and financial-report fact extraction.

Each mirrors a reference routine; citations inline. These are pure functions
str → python values, wrapped into Arrow-batched UDFs by
``edgar_spark.operators.udfs``.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from edgar_spark.parse import meta
from edgar_spark.parse.numbers import (
    DOC_BS,
    DOC_CF,
    DOC_DEBT_NOTES,
    DOC_EN,
    DOC_EPS_NOTES,
    DOC_EQUITY_NOTES,
    DOC_IGNORE,
    DOC_INC,
    DOC_OPS,
    THRESHOLD_YEAR,
    filing_scale,
    normalize_number,
    year_of,
)
from edgar_spark.parse.tokenizer import (
    END_TAG,
    ERROR,
    START_TAG,
    TEXT,
    TokenCursor,
    _fast_tokenize,
    row_spans,
)
from edgar_spark.parse.tables import (
    parse_table_heading,
    parse_table_row,
)
from edgar_spark.parse.xbrl import FT_UNKNOWN, fin_data_type_from_tag, may_hold_fact

REQUIRED_DOC_TYPES = (DOC_OPS, DOC_INC, DOC_BS, DOC_CF, DOC_EN)  # data_def.go:81-87


def query_page_parse(text: str, doc_type: str) -> Dict[str, str]:
    """parser.go:34-53 queryPageParser — walk the ``<tr>``s of an EDGAR
    browse-edgar result page; keep rows with exactly 5 extracted cells whose
    cell0 equals the requested filing type (this drops ``10-K/A`` amendments
    and rows without an interactiveDataBtn link, since those rows don't reach
    arity 5 with a viewer href in cell1); drop filings before
    ``thresholdYear`` (2012, data_def.go:27). Returns {filing_date → viewer
    href}; keyed by date, so same-date rows dedup with last-write-wins
    exactly like the Go map assignment."""
    out: Dict[str, str] = {}
    z = TokenCursor(text)
    data = parse_table_row(z, True)
    while data is not None:
        if len(data) == 5 and data[0] == doc_type:
            if year_of(data[3]) >= THRESHOLD_YEAR:
                out[data[3]] = data[1]
        data = parse_table_row(z, True)
    return out


def cik_page_parse(text: str) -> Optional[str]:
    """parser.go:55-76 cikPageParser — scan for the ``<cik>`` element and
    return the first non-empty trimmed text before ``</cik>``; None if not
    found (the Go error path)."""
    z = TokenCursor(text)
    token = z.token()
    while not (token.data == "cik" and token.type == START_TAG):
        if z.next() == ERROR:
            return None
        token = z.token()
    while not (token.data == "cik" and token.type == END_TAG):
        if token.type == TEXT:
            s = token.string().strip()
            if s:
                return s
        z.next()
        token = z.token()
    return None


def get_menu_category(data: str) -> str:
    """reportmap.go:21-32 — substring rules over the lowercased menu text."""
    d = data.lower()
    if "financial" in d and "statement" in d:
        if "note" in d:
            return "NFS"
        return "FS"
    if "cover" in d:
        return "Cover"
    return "Unknown"


def lookup_doc_type(data: str, menu: str) -> str:
    """reportmap.go:34-78 — uppercase substring decision table. Rule order is
    load-bearing: within FS, OPERATIONS is tested before INCOME/EARNINGS."""
    d = data.upper()
    if menu == "Cover" and "DOCUMENT" in d and "ENTITY" in d:
        return DOC_EN
    if menu == "FS":
        if "PARENTHETICAL" in d:
            return DOC_IGNORE
        if "BALANCE SHEET" in d:
            return DOC_BS
        if "FINANCIAL POSITION" in d:
            return DOC_BS
        if "OPERATIONS" in d:
            return DOC_OPS
        if "INCOME" in d:
            return DOC_INC
        if "EARNINGS" in d:
            return DOC_INC
        if "CASH FLOWS" in d:
            return DOC_CF
    elif menu == "NFS":
        if "EARNINGS" in d and "SHARE" in d:
            return DOC_EPS_NOTES
        if "SHAREHOLDER" in d and "EQUITY" in d:
            return DOC_EQUITY_NOTES
        if "DEBT" in d:
            return DOC_DEBT_NOTES
    return DOC_IGNORE


def get_missing_docs(docs: Dict[str, str]) -> str:
    """reportmap.go:80-112 — required set {Ops, Inc, BS, CF, EN} with Ops⇄Inc
    interchangeable. The Go version iterates a map (random order) for its log
    string; we fix the canonical order Ops, Inc, BS, CF, EN and document that
    as the deterministic target semantics."""
    if len(docs) >= len(REQUIRED_DOC_TYPES):
        return ""
    diff: List[str] = []
    for key in REQUIRED_DOC_TYPES:
        if key not in docs:
            if key == DOC_OPS and DOC_INC in docs:
                continue
            if key == DOC_INC and DOC_OPS in docs:
                continue
            diff.append(key)
    if not diff:
        return ""
    return "[ " + "".join(" " + d for d in diff) + " ]"


def map_reports(text: str, filing_links: List[str]) -> Dict[str, str]:
    """reportmap.go:114-169 mapReports — walk the viewer accordion menu:
    ``id="menu_cat…"`` anchors set the current category (every text token
    inside the anchor re-evaluates it — reportmap.go:146-153); each
    ``loadReport(n)`` link's immediately-following text token is classified by
    ``lookup_doc_type``; first link wins per doc type (reportmap.go:139-142);
    parsing stops early once a menu category resolves Unknown past the notes
    (reportmap.go:154-158)."""
    menu_category = "Unknown"
    ret: Dict[str, str] = {}
    z = TokenCursor(text)
    tt = z.next()
    stop = False
    while tt != ERROR and not stop:
        token = z.token()
        if token.data == "a":
            for k, v in token.attrs:
                if k == "href" and "loadReport" in v:
                    num_part = v.split("loadReport")[1].strip(";").strip("()")
                    report_num = int(num_part)  # Go Atoi then panic-equivalent below
                    tt = z.next()  # the text that describes the report
                    if tt != TEXT:
                        break
                    token = z.token()
                    doc_type = lookup_doc_type(token.string(), menu_category)
                    if doc_type != DOC_IGNORE and doc_type not in ret:
                        if report_num - 1 < 0:
                            raise IndexError("loadReport index underflow")
                        ret[doc_type] = filing_links[report_num - 1]
                elif k == "id" and "menu_cat" in v:
                    while not (token.data == "a" and token.type == END_TAG):
                        if token.type == TEXT:
                            menu_category = get_menu_category(token.string().strip())
                        z.next()
                        token = z.token()
                    if menu_category == "Unknown":
                        # Gone past the notes sections — stop parsing.
                        stop = True
                        break
        tt = z.next()
    return ret


def filing_index_parse(text: str, file_type: str) -> Dict[str, str]:
    """parser.go:86-127 filingPageParser — scan lines for ``var reports = new
    Array(N)``; the next N−1 lines each assign one report URL (the trailing
    'all' entry is skipped); ``.xml`` extensions are rewritten to ``.htm``
    (parser.go:108-111); a non-htm link raises (the Go panic at :112-114).
    The remainder of the document is then classified by ``map_reports``.

    The Go version re-reads the underlying stream after a ``bufio`` reader,
    which silently skips up to one buffer of bytes; we tokenize from the end
    of the last consumed line, which is the documented (and golden-verified)
    semantics."""
    filing_links: List[str] = []
    lines = text.split("\n")
    offset = 0  # char offset of the start of the current line
    i = 0
    rest_offset = len(text)
    while i < len(lines):
        line = lines[i]
        if "var reports" in line:
            cnt = int(line.split("(")[1].split(")")[0])
            for _ in range(cnt - 1):
                i += 1
                offset += len(line) + 1
                line = lines[i]
                rhs = line.split(" = ")[1].split(";")[0].strip('"')
                dotted = rhs.split(".")
                link = rhs
                if dotted[1] == "xml":
                    link = dotted[0] + ".htm"
                if "htm" not in link:
                    raise ValueError("Dont know this type of report: " + link)
                filing_links.append(link)
            rest_offset = offset + len(line) + 1
            break
        offset += len(line) + 1
        i += 1
    return map_reports(text[rest_offset:], filing_links)


def _doc_rows(text: str) -> Tuple[Optional[List[str]], List[Tuple[int, List[str]]]]:
    """The whole-document walk: the heading row's ``<th>`` texts (None at
    EOF) and every following row as ``(seq, cells)``."""
    z = TokenCursor(text)
    heading = parse_table_heading(z)
    rows: List[Tuple[int, List[str]]] = []
    data = parse_table_row(z, True)
    while data is not None:
        rows.append((len(rows), data))
        data = parse_table_row(z, True)
    return heading, rows


def _walk_span(row: str, walk) -> Optional[List[str]]:
    """``walk`` over one row span tokenized alone. The span's one ``</tr>``
    is its last token, so a walk that returns rows ended there, on the same
    tokens as in the document; one that would have run past it met EOF and
    returns None."""
    toks = _fast_tokenize(row)
    return None if toks is None else walk(TokenCursor(toks))


def _cells_close(row: str) -> bool:
    """True if walking this row cannot run past its ``</tr>``.

    ``parse_table_data`` scans a ``<td>`` to ``</td>`` and
    ``parse_hyperlink_tag`` an ``<a>`` to ``</a>``; both cross ``</tr>``.
    The walk stays inside the row if every ``<td``/``<a`` start and every
    ``</a`` lies before the last ``</td>``, and the last ``<a`` start has a
    ``</a>`` after it. Openers are matched by prefix (over-counting only
    makes this stricter); closers exactly."""
    last_td_end = row.rfind("</td>")
    last_a = row.rfind("<a")
    return (
        row.rfind("<td") < last_td_end
        and row.rfind("</a") < last_td_end
        and (last_a < 0 or last_a < row.rfind("</a>"))
    )


def _span_rows(text: str) -> Optional[Tuple[List[str], List[Tuple[int, List[str]]]]]:
    """The row path: :func:`_doc_rows`' result, computed from the row spans
    of :func:`row_spans`, or None where that is not provably identical.

    A row that cannot yield a fact (``may_hold_fact``) and whose cells close
    inside it is counted for ``seq`` but never tokenized; every other row is
    tokenized alone and walked, and must end on its own ``</tr>``. The
    heading span is walked the same way. Skipped rows are absent from the
    result; they would contribute no fact."""
    spans = row_spans(text)
    if not spans:
        return None
    heading = _walk_span(text[slice(*spans[0])], parse_table_heading)
    if heading is None:
        return None
    rows: List[Tuple[int, List[str]]] = []
    for seq, (start, end) in enumerate(spans[1:]):
        row = text[start:end]
        if not may_hold_fact(row) and _cells_close(row):
            continue
        data = _walk_span(row, lambda z: parse_table_row(z, True))
        if data is None:
            return None
        rows.append((seq, data))
    return heading, rows


def _facts(
    heading: Optional[List[str]], rows: List[Tuple[int, List[str]]], doc_type: str
) -> Tuple[List[Tuple[int, str, float]], Dict[str, int]]:
    """The per-row fact code shared by both walks (see fin_report_facts)."""
    # parser.go:307-316 — scale map from the first heading row; empty map
    # (⇒ no scaling) when the heading is absent, matching the Go behavior
    scales = filing_scale(heading, doc_type) if heading else {}
    facts: List[Tuple[int, str, float]] = []
    for seq, data in rows:
        if data:
            ft = fin_data_type_from_tag(data[0])
            if ft != FT_UNKNOWN:
                strict = meta.STRICT_DOC_FOR_FIN_TYPE.get(ft)
                if strict is None or strict == doc_type:
                    entity = meta.entity_of(ft)
                    factor = scales.get(entity, 1) if entity else 1
                    for cell in data[1:]:
                        if cell:
                            num = normalize_number(cell)
                            if num is not None:
                                facts.append((seq, ft, num * factor))
                                break
    return facts, scales


def fin_report_facts(
    text: str, doc_type: str
) -> Tuple[List[Tuple[int, str, float]], Dict[str, int]]:
    """parser.go:326-347 finReportParser re-expressed as fact extraction.

    Per row: cell0 → XBRL tag → finDataType (xbrltags.go:119-137); if
    recognized, value cells are tried left→right and the first one
    ``normalize_number`` accepts is emitted, scaled by the document's entity
    scale factor (data_def.go:210-216). The strict data→doc gate
    (data_def.go:229-233) drops Cash facts from non-BS documents.

    The reference's in-struct zero-guard (data_def.go:205 — only set when the
    current value is 0) reduces relationally to: per (document-set, fin_type)
    the winner is the FIRST NONZERO emitted candidate in (doc_priority, seq)
    order, else 0.0-with-presence if any candidate exists. That reduction is
    applied by ``edgar_spark.model.consolidate``; this kernel emits all
    row-level candidates in document order.

    Rows come from the row path (:func:`_span_rows`) where the document is
    in ``row_spans``' grammar and every row keeps to its own span: there
    only rows that may hold a known tag are tokenized. Anywhere else they
    come from the whole-document walk (:func:`_doc_rows`), so the output is
    the walk's by construction (tokenizer.py states the soundness argument).

    Returns (facts, scales) where facts = [(seq, fin_type, scaled_value)].
    """
    heading, rows = _span_rows(text) or _doc_rows(text)
    return _facts(heading, rows, doc_type)
