"""The report parser's row path against the whole-document walk.

``fin_report_facts`` tokenizes only the table rows that may hold a known
XBRL tag, behind a gate that falls back to the whole-document walk. These
tests hold the two equal on the fixtures, on synthetic report pages and on
seeded mutants of both, and check that the gate admits the real report
pages (so a gate regression cannot silently send everything to the
fallback).
"""

from __future__ import annotations

import random

import pytest

from edgar_spark.parse import docs
from edgar_spark.parse.numbers import DOC_BS, DOC_CF, DOC_EN, DOC_INC, DOC_OPS
from edgar_spark.parse.tokenizer import row_spans
from edgar_spark.synth import corpus
from tests.conftest import SAMPLES, read_sample

DOC_TYPES = (DOC_OPS, DOC_INC, DOC_BS, DOC_CF, DOC_EN)
HTML_FIXTURES = sorted(p.name for p in SAMPLES.iterdir() if p.suffix in (".html", ".htm"))


def walked(text: str, doc_type: str):
    """The whole-document walk, which the row path must reproduce."""
    return docs._facts(*docs._doc_rows(text), doc_type)


def _synth_reports():
    return [
        text
        for i in range(2)
        for url, _ts, _html, text, _lang in corpus.company_pages(i, 2)
        if "/R" in url
    ]


@pytest.mark.parametrize("name", HTML_FIXTURES)
def test_row_path_equals_walk_on_fixtures(name):
    text = read_sample(name)
    for doc_type in DOC_TYPES:
        assert docs.fin_report_facts(text, doc_type) == walked(text, doc_type)


def test_row_path_equals_walk_on_synth_reports():
    pages = _synth_reports()
    assert len(pages) >= 40
    for k, text in enumerate(pages):
        doc_type = DOC_TYPES[k % len(DOC_TYPES)]
        assert docs.fin_report_facts(text, doc_type) == walked(text, doc_type)


@pytest.mark.parametrize(
    "name",
    [
        "sample_bs.html",
        "sample_bs1.html",
        "sample_cf.html",
        "sample_ops.html",
        "sample_entity.html",
        "sample_income.htm",
    ],
)
def test_report_fixtures_take_row_path(name):
    text = read_sample(name)
    assert row_spans(text) is not None
    assert docs._span_rows(text) is not None


def test_synth_report_takes_row_path():
    text = _synth_reports()[0]
    spans = row_spans(text)
    assert spans is not None and len(spans) > corpus.REPORT_FILLER_ROWS
    heading, rows = docs._span_rows(text)
    # the filler rows are skipped untokenized; only candidate rows remain
    assert heading and 0 < len(rows) < 10


# ---------------------------------------------------------------- mutants

_KNOWN_ROWS = [
    "<tr><td>Revenues</td><td>1,234</td></tr>\n",
    "<tr><td class=\"pl\"><a onclick=\"top.Show.showAR( this, "
    "'defref_us-gaap_Assets', window );\">Total</a></td>"
    "<td class=\"nump\">$ 9,876<span></span></td></tr>\n",
    "<tr><td>acme_us_NetIncomeLoss </td><td class=\"nump\">(42)</td></tr>\n",
    "<tr><td><a id=\"interactiveDataBtn\" href=\"Goodwill\">x</a></td>"
    "<td>7</td></tr>\n",
]
_INSERTS = [
    "<script>'</tr>'</script>",
    "<style></tr><tr><td>Assets</td></style>",
    "<tr/>",
    "</td>",
    "</tr>",
    "</a>",
    "<!-- <tr><td>Assets</td><td>5</td></tr> -->",
    "<td>",
    "<a href=\"#\">",
]


def _tag_starts(doc):
    return [i for i, c in enumerate(doc) if c == "<"] or [0]


def _drop_close(doc, rng):
    tag = rng.choice(["</td>", "</a>", "</tr>", "</th>"])
    hits = [i for i in range(len(doc)) if doc.startswith(tag, i)]
    if not hits:
        return doc
    i = rng.choice(hits)
    return doc[:i] + doc[i + len(tag):]


def _insert(doc, rng):
    i = rng.choice(_tag_starts(doc))
    return doc[:i] + rng.choice(_INSERTS + _KNOWN_ROWS) + doc[i:]


def _upper(doc, rng):
    tag = rng.choice(["<td", "</td>", "<tr", "</tr>", "<a ", "</a>", "<th"])
    hits = [i for i in range(len(doc)) if doc.startswith(tag, i)]
    if not hits:
        return doc
    i = rng.choice(hits)
    return doc[:i] + tag.upper() + doc[i + len(tag):]


def _entity_key(doc, rng):
    # entity-encode one character of a known key, or an onclick quote
    hits = [i for i in range(len(doc)) if doc.startswith("defref_", i)]
    if not hits:
        return doc
    i = rng.choice(hits) + rng.randrange(7, 20)
    if i >= len(doc) or not doc[i].isalnum():
        return doc
    return doc[:i] + f"&#{ord(doc[i])};" + doc[i + 1:]


def _text_key(doc, rng):
    # replace a label link by a plain-text key cell
    start = doc.find("<a class=\"a\"", rng.randrange(len(doc)))
    end = doc.find("</a>", start)
    if start < 0 or end < 0:
        return doc
    key = rng.choice(["Assets", "defref_us-gaap_Revenues", "x_y_GrossProfit", "Assets "])
    return doc[:start] + key + doc[end + 4:]


def _delete(doc, rng):
    i = rng.randrange(len(doc))
    return doc[:i] + doc[i + rng.randint(1, 200):]


def _truncate(doc, rng):
    return doc[: rng.randrange(len(doc))]


_MUTATIONS = [_drop_close, _insert, _upper, _entity_key, _text_key, _delete, _truncate]


def _bases():
    """Small report pages: synthetic pages cut to a few filler rows, and the
    first rows of each report fixture."""
    out = []
    for text in _synth_reports()[:16]:
        lines = text.split("\n")
        filler = [ln for ln in lines if "'defref_syn" in ln]
        out.append("\n".join(ln for ln in lines if ln not in filler[6:]))
    for name in ["sample_bs.html", "sample_ops.html", "sample_entity.html", "sample_cf.html"]:
        text = read_sample(name)
        cut = 0
        for _ in range(24):
            cut = text.index("</tr>", cut) + 5
        out.append(text[:cut] + "\n</table></body></html>\n")
    return out


def test_row_path_equals_walk_on_mutants():
    rng = random.Random(20161)
    bases = _bases()
    n, on_row_path = 2400, 0
    for k in range(n):
        doc = rng.choice(bases)
        for _ in range(rng.randint(1, 3)):
            if doc:
                doc = rng.choice(_MUTATIONS)(doc, rng)
        doc_type = DOC_TYPES[k % len(DOC_TYPES)]
        assert docs.fin_report_facts(doc, doc_type) == walked(doc, doc_type), doc
        on_row_path += docs._span_rows(doc) is not None
    assert on_row_path >= n // 4, on_row_path


# ---------------------------------------------------------------- regressions


def test_script_holding_row_tag_falls_back():
    """Raw text can hold gate-shaped tags. The ``</tr><tr>`` inside the
    script is text, so the page has one row, whose first cell is ``a``; read
    as tags it would end a fact-free row early and start a ``Revenues`` one."""
    doc = (
        "<table><tr><th>X - USD ($)<br> $ in Millions</th></tr>"
        "<tr><td>a</td><script>'</tr><tr>'</script><td>Revenues</td><td>5</td></tr>"
        "</table>"
    )
    assert row_spans(doc) is None
    facts, _ = docs.fin_report_facts(doc, DOC_OPS)
    assert facts == walked(doc, DOC_OPS)[0] == []


def test_deleted_td_close_keeps_seq():
    """A ``<td>`` without ``</td>`` scans into the next row and merges the
    two, which shifts every later ``seq`` down by one; the row path must not
    skip the open row as if it ended at its own ``</tr>``."""
    open_td = (
        "<tr><td class=\"pl\">Deferred Tax Assets (3)</td>"
        "<td class=\"nump\"><span></span></tr>\n"
    )
    doc = (
        "<table><tr><th>X - USD ($)</th></tr>\n"
        + "<tr><td>a</td><td>1</td></tr>\n" * 3
        + open_td
        + "<tr><td></td></tr>\n"
        + "<tr><td>Revenues</td><td>12</td></tr>\n"
        + "</table>"
    )
    facts, _ = docs.fin_report_facts(doc, DOC_OPS)
    assert facts == walked(doc, DOC_OPS)[0]
    assert [seq for seq, _ft, _v in facts] == [4]


def test_link_closed_after_last_cell_falls_back():
    """``parse_hyperlink_tag`` scans an ``<a>`` to its ``</a>``: one that
    closes after the row's last ``</td>`` drags the cell scan past ``</tr>``,
    so the next row's cells become this row's."""
    doc = (
        "<table><tr><th>X - USD ($)</th></tr>\n"
        "<tr><td><a href=\"#\">x</td></a></tr>\n"
        "<tr><td>Revenues</td><td>5</td></tr>\n"
        "</table>"
    )
    facts, _ = docs.fin_report_facts(doc, DOC_OPS)
    assert facts == walked(doc, DOC_OPS)[0]
    assert [(seq, ft) for seq, ft, _v in facts] == [(0, "Revenue")]
