"""Go-x/net/html-compatible token stream on top of ``html.parser``.

The reference engine walks pages with golang.org/x/net/html's streaming
tokenizer (used throughout /root/reference/parser.go and reportmap.go). For
byte-identical extraction we need the same observable token semantics:

* tag names and attribute keys lowercased; attribute values fully unescaped
  (asserted by the reference at parser_test.go:37-39 — ``&amp;cik=`` comes back
  as ``&cik=``);
* ``Token.String()`` on a text token returns the *re-escaped* text
  (entities decoded, then ``& ' < > " \\r`` re-escaped) — parser.go:148,
  parser.go:262, parser.go:67 all call ``token.String()`` on text tokens;
* ``<script>``/``<style>`` bodies are raw text, never tags;
* a cursor with Go's ``z.Token()`` / ``z.Next()`` shape: the current token
  starts as a zero (ERROR) token, ``next()`` advances and returns the new
  token type, EOF yields ERROR forever.

Python's ``html.parser.HTMLParser`` with ``convert_charrefs=True`` gives the
same unescaping behavior; we buffer consecutive data events into maximal text
runs to match Go's maximal text tokens.
"""

from __future__ import annotations

import html as html_mod
import html.parser
import re
from dataclasses import dataclass, field
from typing import List, Optional, Tuple

# Token types (mirror x/net/html TokenType values we care about)
ERROR = 0
TEXT = 1
START_TAG = 2
END_TAG = 3
SELF_CLOSING = 4
COMMENT = 5
DOCTYPE = 6

# Go x/net/html escape.go escapes exactly these characters when re-stringifying
# a text token: & ' < > " and \r.
_ESCAPES = {
    "&": "&amp;",
    "'": "&#39;",
    "<": "&lt;",
    ">": "&gt;",
    '"': "&#34;",
    "\r": "&#13;",
}


def escape_string(s: str) -> str:
    """Replicate Go html.EscapeString (escape.go of x/net/html)."""
    if not any(c in s for c in _ESCAPES):
        return s
    return "".join(_ESCAPES.get(c, c) for c in s)


@dataclass(slots=True)
class Tok:
    """One token. ``data`` is the lowercased tag name for tag tokens and the
    unescaped text for TEXT tokens. ``attrs`` preserves source order with
    unescaped values (valueless attributes get ``""``)."""

    type: int
    data: str = ""
    attrs: List[Tuple[str, str]] = field(default_factory=list)

    def string(self) -> str:
        """Go Token.String() for TEXT tokens: EscapeString(Data)."""
        if self.type == TEXT:
            return escape_string(self.data)
        return self.data

    def attr(self, key: str) -> Optional[str]:
        for k, v in self.attrs:
            if k == key:
                return v
        return None


_ZERO = Tok(ERROR, "")


class _Collector(html.parser.HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.toks: List[Tok] = []
        self._text: List[str] = []

    def _flush(self) -> None:
        if self._text:
            self.toks.append(Tok(TEXT, "".join(self._text)))
            self._text = []

    @staticmethod
    def _norm_attrs(attrs) -> List[Tuple[str, str]]:
        return [(k, v if v is not None else "") for k, v in attrs]

    def handle_starttag(self, tag, attrs):
        self._flush()
        self.toks.append(Tok(START_TAG, tag, self._norm_attrs(attrs)))

    def handle_endtag(self, tag):
        self._flush()
        self.toks.append(Tok(END_TAG, tag))

    def handle_startendtag(self, tag, attrs):
        self._flush()
        self.toks.append(Tok(SELF_CLOSING, tag, self._norm_attrs(attrs)))

    def handle_data(self, data):
        self._text.append(data)

    def handle_comment(self, data):
        self._flush()
        self.toks.append(Tok(COMMENT, data))

    def handle_decl(self, decl):
        self._flush()
        self.toks.append(Tok(DOCTYPE, decl))

    def unknown_decl(self, data):
        self._flush()
        self.toks.append(Tok(COMMENT, data))

    def handle_pi(self, data):
        self._flush()
        self.toks.append(Tok(COMMENT, data))

    def close(self):
        super().close()
        self._flush()


def _slow_tokenize(text: str) -> List[Tok]:
    """Reference tokenization via html.parser (the proven-golden baseline)."""
    c = _Collector()
    try:
        c.feed(text)
        c.close()
    except Exception:
        # Lenient like the Go tokenizer: keep whatever was produced.
        c._flush()
    return c.toks


# ---------------------------------------------------------------- fast path
#
# EDGAR viewer pages are machine-generated, regular HTML; a compiled-regex
# scan tokenizes them ~8× faster than html.parser's char-by-char goahead
# loop (html.parser dominates the parse kernel profile). The scanner is
# written to produce the EXACT token stream _slow_tokenize produces for the
# grammar it accepts, and returns None (⇒ caller falls back to the slow
# path) the moment it meets anything irregular — bare '<' in text, bogus
# comments, unparseable attributes — so byte-identical semantics never
# depend on the fast path's coverage. Equivalence over every reference
# sample and synthetic page is asserted in tests/test_parse_goldens.py.

_SCAN_RE = re.compile(
    r"<(?:"
    r"/\s*(?P<ename>[a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"
    r"|(?P<name>[a-zA-Z][-.a-zA-Z0-9:_]*)"
    r"(?P<attrs>(?:[^<>\"']|\"[^\"]*\"|'[^']*')*?)"
    r"(?P<selfclose>/?)>"
    r"|!--(?P<comment>.*?)--\s*>"
    r"|!(?P<decl>[^>]*)>"
    r"|\?(?P<pi>[^>]*)>"
    r")",
    re.S,
)

_ATTR_RE = re.compile(
    r"\s+([a-zA-Z_:][^\s=/>\x00]*)"
    # '=+' like html.parser's attrfind_tolerant ('href==x' → value 'x');
    # unquoted value may be empty ('href=' → value '')
    r"(?:\s*=+\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s\"'>]*)))?"
)

# loose search (what html.parser's CDATA 'interesting' regex uses to stop
# scanning) + strict end-tag form; a loose hit that is not a strict end tag
# means html.parser would treat it as data and STAY in CDATA mode — the
# fast path bails there (see _fast_tokenize)
_CDATA_END = {
    "script": (re.compile(r"</\s*script", re.I), re.compile(r"</\s*script\s*>", re.I)),
    "style": (re.compile(r"</\s*style", re.I), re.compile(r"</\s*style\s*>", re.I)),
}


_MISSING = object()


def _parse_attrs_uncached(raw: str) -> Optional[List[Tuple[str, str]]]:
    attrs: List[Tuple[str, str]] = []
    pos = 0
    for m in _ATTR_RE.finditer(raw):
        if raw[pos : m.start()].strip():
            return None
        name, dq, sq, uq = m.groups()
        val = dq if dq is not None else (sq if sq is not None else (uq or ""))
        if "&" in val:
            val = html_mod.unescape(val)
        attrs.append((name.lower(), val))
        pos = m.end()
    if raw[pos:].strip("\t\n\r\f /"):
        return None
    return attrs


_ATTR_CACHE: dict = {}


def _parse_attrs(raw: str) -> Optional[List[Tuple[str, str]]]:
    """html.parser-compatible attribute list, or None if the raw attr text
    isn't fully consumed by the regular grammar (⇒ bail to slow path).

    Memoized — machine-generated EDGAR pages repeat the same few attribute
    strings thousands of times per document. Returned lists are SHARED
    between tokens; all consumers are read-only (Tok.attr lookups)."""
    got = _ATTR_CACHE.get(raw, _MISSING)
    if got is not _MISSING:
        return got
    parsed = _parse_attrs_uncached(raw)
    if len(_ATTR_CACHE) > 65536:  # unbounded-growth guard for hostile input
        _ATTR_CACHE.clear()
    _ATTR_CACHE[raw] = parsed
    return parsed


def _fast_tokenize(text: str) -> Optional[List[Tok]]:
    toks: List[Tok] = []
    buf: List[str] = []
    pos = 0
    n = len(text)

    def flush() -> None:
        if buf:
            toks.append(Tok(TEXT, "".join(buf)))
            buf.clear()

    scan = _SCAN_RE.match
    find = text.find
    unescape = html_mod.unescape
    while pos < n:
        lt = find("<", pos)
        if lt == -1:
            seg = text[pos:]
            if seg:
                buf.append(unescape(seg) if "&" in seg else seg)
            break
        if lt > pos:
            seg = text[pos:lt]
            buf.append(unescape(seg) if "&" in seg else seg)
        m = scan(text, lt)
        if m is None:
            return None  # bare '<' or malformed construct — slow path decides
        ename, name, rawattrs, selfclose, comment, decl, pi = m.groups()
        if comment is None and text.startswith("<!--", lt):
            return None  # bogus comment form (e.g. '<!-->') — slow path
        if ename is not None:
            flush()
            toks.append(Tok(END_TAG, ename.lower()))
        elif name is not None:
            name = name.lower()
            attrs = _parse_attrs(rawattrs)
            if attrs is None:
                return None
            if selfclose and re.search(r"=\s*[^\s\"'>]+$", rawattrs.rstrip()):
                # '<a href=x/>': html.parser folds the '/' into the unquoted
                # attribute value instead of self-closing — slow path decides
                return None
            flush()
            if selfclose:
                toks.append(Tok(SELF_CLOSING, name, attrs))
            else:
                toks.append(Tok(START_TAG, name, attrs))
                if name in _CDATA_END:  # raw-text content mode, no unescaping
                    loose, strict = _CDATA_END[name]
                    end = loose.search(text, m.end())
                    if end is None:
                        # unterminated script/style: html.parser swallows the
                        # trailing raw text at EOF — slow path decides
                        return None
                    if not strict.match(text, end.start()):
                        # '</scriptx>' etc.: html.parser treats it as data
                        # and stays in CDATA mode — slow path decides
                        return None
                    raw = text[m.end() : end.start()]
                    if raw:
                        toks.append(Tok(TEXT, raw))
                    pos = end.start()
                    continue
        elif comment is not None:
            flush()
            toks.append(Tok(COMMENT, comment))
        elif decl is not None:
            if decl.startswith(("[", "-")):
                return None  # marked section / malformed decl — slow path
            flush()
            if decl.lower().startswith("doctype"):
                toks.append(Tok(DOCTYPE, decl))
            else:
                # html.parser routes any other '<!...>' to a bogus comment
                # (parse_html_declaration → parse_bogus_comment)
                toks.append(Tok(COMMENT, decl))
        else:
            flush()
            toks.append(Tok(COMMENT, pi))
        pos = m.end()
    flush()
    return toks


# ------------------------------------------------------------ row spans
#
# Report pages are 97% rows that can never yield a fact, so the report
# parser tokenizes row by row and skips most rows untokenized
# (``edgar_spark.parse.docs.fin_report_facts``). That is exact only where
# the raw text's ``<tr>``/``</tr>`` positions are exactly the tag tokens the
# whole-document walk sees. :func:`row_spans` admits a document only if:
#
# * every ``<`` starts an end tag ``</name\s*>`` or a start tag whose
#   attribute values are all quoted and hold no ``<``/``>`` — no comment,
#   doctype, ``<?``, bare ``<`` or unquoted value (``_GATE_DOC``; its
#   whitespace is the ASCII set that ``_parse_attrs`` strips);
# * every non-self-closing ``<script>``/``<style>`` start tag has its own end
#   tag as the next ``<`` (raw text such as ``<script>'</tr>'</script>``
#   would otherwise fake a row tag);
# * no ``tr``/``td``/``a`` tag name is written in upper case (the raw scans
#   over rows are lower-case ``str`` searches).
#
# Soundness. Under the first two rules each ``<`` is a tag that
# ``_SCAN_RE`` matches up to the first ``>``, ``_parse_attrs`` consumes its
# attributes, no ``<!``/``<?`` branch runs and every script/style body is a
# ``<``-free run that ends at its strict end tag, so ``_fast_tokenize``
# succeeds on the whole document — which is therefore what ``tokenize``
# returns. Every tag flushes the text buffer, so a token depends only on
# its own raw segment (a tag, or the text between two tags). Hence
# ``_fast_tokenize`` of any span that starts at a ``<`` and ends after a
# tag's ``>`` yields exactly the document's tokens for that range.

_WS = r"[ \t\n\r\f]"
_NAME = r"[a-zA-Z][-.a-zA-Z0-9:_]*+"
_NAME_END = r"(?=[ \t\n\r\f/>])"
_ATTR = rf"{_WS}++[a-zA-Z_:][^\s=/<>\"'\x00]*+(?:{_WS}*+={_WS}*+(?:\"[^\"<>]*+\"|'[^'<>]*+'))?+"
# the whole document, tag by tag, in the grammar (possessive: linear time)
_GATE_DOC = re.compile(rf"(?:[^<]++|</{_NAME}{_WS}*+>|<{_NAME}(?:{_ATTR})*+{_WS}*+/?>)*+")
_OFF_GRAMMAR = re.compile(
    # a tr/td/a tag name not in lower case
    rf"</?(?!(?:tr|td|a){_NAME_END})(?i:tr|td|a){_NAME_END}"
    # a script/style body that holds a '<' before its own end tag
    rf"|<((?i:script|style)){_NAME_END}[^>]*(?<!/)>(?![^<]*</\1{_WS}*>)"
)
# one row: a non-self-closing <tr …> start tag, then everything up to the
# first </tr> — or, for an unterminated last row, to the end of the text
_ROW = re.compile(
    rf"<tr{_NAME_END}[^>]*(?<!/)>(?:[^<]++|<(?!/tr{_WS}*>))*+(</tr{_WS}*>)?"
)


def row_spans(text: str) -> Optional[List[Tuple[int, int]]]:
    """The ``(start, end)`` raw span of every complete table row, or None if
    ``text`` lies outside the grammar described above.

    Rows are delimited as ``parse_table_row`` walks them: a row starts at
    the first ``<tr`` start tag after the previous row's end (a
    self-closing ``<tr/>`` starts nothing) and ends after the first
    ``</tr>`` that follows — a nested ``<tr`` is absorbed. An unterminated
    last row is not a span (the walk ends there)."""
    if not _GATE_DOC.fullmatch(text) or _OFF_GRAMMAR.search(text):
        return None
    return [m.span() for m in _ROW.finditer(text) if m.group(1)]


def tokenize(text: str) -> List[Tok]:
    """Tokenize a whole document into the Go-compatible token list.

    Fast regex scan first; any construct outside the regular EDGAR grammar
    falls the whole document back to the html.parser baseline."""
    toks = _fast_tokenize(text)
    if toks is None:
        return _slow_tokenize(text)
    return toks


class TokenCursor:
    """Go tokenizer cursor: ``token()`` = current token (zero token before the
    first ``next()``), ``next()`` advances and returns the new token type
    (ERROR at/after EOF, and ``token()`` then also returns the zero token)."""

    __slots__ = ("toks", "pos")

    def __init__(self, toks_or_text) -> None:
        self.toks = (
            tokenize(toks_or_text) if isinstance(toks_or_text, str) else toks_or_text
        )
        self.pos = -1

    def token(self) -> Tok:
        if 0 <= self.pos < len(self.toks):
            return self.toks[self.pos]
        return _ZERO

    def next(self) -> int:
        self.pos += 1
        if self.pos >= len(self.toks):
            self.pos = len(self.toks)
            return ERROR
        return self.toks[self.pos].type
