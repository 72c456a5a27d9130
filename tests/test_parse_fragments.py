"""Tier-1 unit tests on inline HTML fragments.

Ports of the reference's fragment tests (parser_test.go:14-89, :130-136) plus
scalar-function edge cases. Golden strings/values are taken verbatim from the
reference test expectations.
"""

from __future__ import annotations

import math

from edgar_spark.parse import (
    TokenCursor,
    filing_scale,
    is_same_scale,
    normalize_number,
    parse_table_row,
    trunc_round,
)
from edgar_spark.parse.tables import parse_cik_and_doc_id
from edgar_spark.parse.numbers import (
    DOC_BS,
    DOC_EN,
    ENTITY_MONEY,
    ENTITY_PER_SHARE,
    ENTITY_SHARES,
    SCALE_BILLION,
    SCALE_MILLION,
    SCALE_NONE,
    SCALE_THOUSAND,
)

# parser_test.go:14 — a browse-edgar query result row
SAMPLE_TABLE_ROW = (
    '<tr><td nowrap="nowrap">10-Q</td><td nowrap="nowrap">'
    '<a href="/Archives/edgar/data/320193/000032019318000100/0000320193-18-000100-index.htm"'
    ' id="documentsbutton">&nbsp;Documents</a>&nbsp; '
    '<a href="/cgi-bin/viewer?action=view&amp;cik=320193&amp;accession_number=0000320193-18-000100&amp;xbrl_type=v"'
    ' id="interactiveDataBtn">&nbsp;Interactive Data</a></td>'
    '<td class="small" >Quarterly report [Sections 13 or 15(d)]<br />'
    "Acc-no: 0000320193-18-000100&nbsp;(34 Act)&nbsp; Size: 9 MB            </td>"
    '<td>2018-08-01</td><td nowrap="nowrap">'
    '<a href="/cgi-bin/browse-edgar?action=getcompany&amp;filenum=001-36743&amp;owner=exclude&amp;count=10">001-36743</a>'
    "<br>18985212         </td></tr>"
    '<tr class="blueRow">'
)

# parser_test.go:16-17 — an XBRL data row
SAMPLE_ROW_WITH_XBRL = (
    '<tr class="reu"><td class="pl " style="border-bottom: 0px;" valign="top">'
    '<a class="a" href="javascript:void(0);" onclick="top.Show.showAR( this,'
    " 'defref_us-gaap_StockholdersEquity', window );\">Total shareholders&#8217; equity</a>"
    '</td><td class="nump">134,047<span></span>\n'
    '</td><td class="nump">128,249<span></span></td></tr>'
)

# parser_test.go:19-25 — number rendered inside a link in a nump cell
SAMPLE_ROW_NUM_IN_LINK = (
    '<tr class="re">\n'
    '        <td class="pl " style="border-bottom: 0px;" valign="top">'
    '<a class="a" href="javascript:void(0);" onclick="top.Show.showAR( this,'
    " 'defref_dei_EntityCommonStockSharesOutstanding', window );\">"
    "Entity Common Stock, Shares Outstanding</a></td>\n"
    '        <td class="text">&#xA0;<span></span></td>\n'
    '        <td class="nump"><a title="dei_EntityCommonStockSharesOutstanding"'
    ' onclick="toggleNextSibling(this);">266,252,295</a>'
    '<span style="display:none;white-space:normal;text-align:left;">'
    "dei_EntityCommonStockSharesOutstanding</span><span></span></td>\n"
    '        <td class="text">&#xA0;<span></span></td>\n'
    "      </tr>\n"
)


def test_table_row_query_page():  # parser_test.go:27-46
    z = TokenCursor(SAMPLE_TABLE_ROW)
    data = parse_table_row(z, True)
    assert data is not None
    assert len(data) == 5
    # href comes back fully unescaped (&amp; → &)
    assert (
        data[1]
        == "/cgi-bin/viewer?action=view&cik=320193&accession_number=0000320193-18-000100&xbrl_type=v"
    )
    assert data[0] == "10-Q"
    assert data[3] == "2018-08-01"


def test_table_row_xbrl_def():  # parser_test.go:48-69
    z = TokenCursor(SAMPLE_ROW_WITH_XBRL)
    data = parse_table_row(z, True)
    assert data == ["defref_us-gaap_StockholdersEquity", "134,047", "128,249"]


def test_table_row_num_in_link():  # parser_test.go:71-89
    z = TokenCursor(SAMPLE_ROW_NUM_IN_LINK)
    data = parse_table_row(z, True)
    assert data == ["defref_dei_EntityCommonStockSharesOutstanding", "266,252,295"]


def test_parse_cik_and_doc_id():  # parser_test.go:130-136
    cik, an = parse_cik_and_doc_id(
        "/cgi-bin/viewer?action=view&cik=320193&accession_number=0001193125-15-259935&xbrl_type=v"
    )
    assert cik == "320193"
    assert an == "000119312515259935"


def test_normalize_number():
    assert normalize_number("$ 31,971") == 31971.0
    assert normalize_number("(1,234.56)") == -1234.56
    assert normalize_number("$ (10,272)") == -10272.0
    assert normalize_number("266,252,295") == 266252295.0
    assert normalize_number("1.98") == 1.98
    assert normalize_number("0") == 0.0
    assert normalize_number("") is None
    assert normalize_number("—") is None
    assert normalize_number("N/A") is None


def test_trunc_round():
    # floor(x*100)/100 — truncation, not half-up (utils.go:165-167)
    assert trunc_round(1.239) == 1.23
    assert trunc_round(0.645) == 0.64
    assert trunc_round(-1.231) == -1.24  # floor goes toward -inf
    assert trunc_round(1.98) == 1.98


def test_is_same_scale():
    assert is_same_scale(100.0, 60.0)
    assert is_same_scale(60.0, 100.0)
    assert not is_same_scale(1000.0, 10.0)
    # zero edge cases follow IEEE like Go
    assert not is_same_scale(0.0, 0.0)  # 0/0 = NaN, NaN <= 1 is False
    assert not is_same_scale(0.0, 5e9)  # inf
    assert not math.isnan(0.0)


def test_filing_scale_defaults_and_overrides():
    # defaults: money/shares million, pershare 1 (utils.go:48-56)
    s = filing_scale(["CONDENSED BALANCE SHEETS - USD ($)", "$ in Millions"], DOC_BS)
    assert s[ENTITY_MONEY] == SCALE_MILLION
    assert s[ENTITY_SHARES] == SCALE_MILLION
    assert s[ENTITY_PER_SHARE] == SCALE_NONE
    # entity doc: share scale defaults to 1
    s = filing_scale(["Document and Entity Information"], DOC_EN)
    assert s[ENTITY_SHARES] == SCALE_NONE
    # explicit overrides
    s = filing_scale(["shares in Thousands, $ in Billions"], DOC_BS)
    assert s[ENTITY_SHARES] == SCALE_THOUSAND
    assert s[ENTITY_MONEY] == SCALE_BILLION
    # thousand-dollar heading
    s = filing_scale(["$ in Thousands"], DOC_BS)
    assert s[ENTITY_MONEY] == SCALE_THOUSAND


def test_fast_tokenizer_equivalence():
    """The regex fast path must produce the exact token stream of the
    html.parser baseline on every reference sample and synthetic page
    (or bail to it)."""
    import glob
    import pathlib

    from edgar_spark.parse.tokenizer import _fast_tokenize, _slow_tokenize
    from edgar_spark.synth import corpus

    docs = []
    samples = pathlib.Path(__file__).parent / "fixtures" / "samples"
    for p in sorted(glob.glob(str(samples / "*.html"))):
        docs.append(open(p, encoding="utf-8", errors="replace").read())
    for i in range(3):
        docs.extend(t for _, _, _, t, _ in corpus.company_pages(i, 2))
    # tricky fragments: the fast path may bail (None) but must never differ
    docs += [
        "a < b and c > d",
        "<td class=x>1</td>",
        "<a href=x/>",
        "<!-->",
        "<![CDATA[z]]>",
        "<script>if (a<b) {}</script>ok",
        "<p>&amp;cik=5&#160;&nbsp;&bogus;&lt</p>",
        "<td",
    ]
    bailed = 0
    for d in docs:
        fast = _fast_tokenize(d)
        if fast is None:
            bailed += 1
            continue
        slow = _slow_tokenize(d)
        assert len(fast) == len(slow), d[:80]
        for a, b in zip(fast, slow):
            assert (a.type, a.data, list(a.attrs)) == (
                b.type,
                b.data,
                list(b.attrs),
            ), (d[:80], a, b)
    assert bailed >= 3  # the hostile fragments exercised the fallback


def test_cik_page_parse():
    """cikPageParser (parser.go:55-76): first non-empty trimmed text inside
    <cik>…</cik>; None when absent. The reference's own check is a live
    fetch asserting MSFT's zero-padded CIK (parser_test.go:91-100)."""
    from edgar_spark.parse.docs import cik_page_parse

    xml = (
        '<?xml version="1.0"?><company-info>'
        "<cik>\n  0000789019 </cik><name>MICROSOFT CORP</name></company-info>"
    )
    assert cik_page_parse(xml) == "0000789019"
    assert cik_page_parse("<company-info><name>X</name></company-info>") is None
    # the Go walk stops at the FIRST </cik> even if it held only whitespace
    # (parser.go:66-74 loops to EndTagToken then falls through to the error)
    assert cik_page_parse("<cik>  </cik><cik>7</cik>") is None


def test_parse_rows_report_parser_raising_yields_one_error_row(monkeypatch):
    """A report parser that raises costs its page one error row, not the
    task (and, after retries, the crawl)."""
    from collections import namedtuple

    from edgar_spark.operators import udfs

    def boom(text, doc_type):
        raise IndexError("hostile page")

    monkeypatch.setattr(udfs, "fin_report_facts", boom)
    Page = namedtuple("Page", [f.name for f in udfs.PARSED_SCHEMA.fields[:9]] + ["text"])
    page = Page("report", "1", "T", "10-K", 0, 0, "2020-01-01", "an", "Balance Sheet", "<tr>")
    rows = list(udfs._parse_rows(page))
    assert len(rows) == 1
    row = dict(zip([f.name for f in udfs.PARSED_SCHEMA.fields], rows[0]))
    assert row["error"] == "IndexError"
    assert row["seq"] is None and row["fin_type"] is None and row["value"] is None
    assert len(rows[0]) == len(udfs.PARSED_SCHEMA.fields)
