"""Property-based checks (hypothesis) for the byte-identical kernels.

1. normalize_number vs an exact Go model of utils.go:11-46 (strconv
   grammar included) over adversarial strings.
2. fast regex tokenizer vs the html.parser baseline over generated
   HTML-ish documents: wherever the fast path accepts, the token streams
   must be identical.
"""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

# ---------------------------------------------------------- normalize_number

_GD = r"[0-9](?:_?[0-9])*"
_GO_FLOAT_RE = re.compile(
    rf"^[+-]?({_GD}(\.(?:{_GD})?)?|\.{_GD})([eE][+-]?{_GD})?$"
)
_GO_SPECIAL = {"inf", "+inf", "-inf", "infinity", "+infinity", "-infinity",
               "nan"}


def _go_parse_float(s: str):
    """strconv.ParseFloat acceptance model for the grammar our inputs can
    reach (decimal forms + specials; hex floats can't survive the comma
    stripping of interest here but parse the same via float() when pure)."""
    if s.lower() in _GO_SPECIAL:
        return float(s)
    if not _GO_FLOAT_RE.match(s):
        return None
    try:
        return float(s)
    except ValueError:
        return None


def _go_normalize(sx: str):
    neg = -1.0 if ("(" in sx and ")" in sx) else 1.0
    sx = sx.lstrip(" ").lstrip("$").lstrip(" ").rstrip(" ").lstrip("(").rstrip(")")
    parts = sx.split(".")
    dec = parts[1] if len(parts) > 1 else ""
    joined = "".join(parts[0].split(","))
    if dec != "":
        joined = joined + "." + dec
    v = _go_parse_float(joined)
    return None if v is None else v * neg


_number_chars = st.sampled_from(list("0123456789.,()$ -+eE\tx_abfInNy"))


@settings(max_examples=500, deadline=None)
@given(st.lists(_number_chars, min_size=0, max_size=24).map("".join))
def test_normalize_number_matches_go_model(s):
    from edgar_spark.parse.numbers import normalize_number

    got = normalize_number(s)
    want = _go_normalize(s)
    if want is None or got is None:
        assert got == want, (s, got, want)
    elif want != want:  # NaN
        assert got != got, s
    else:
        assert got == want, (s, got, want)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=-10**12, max_value=10**12),
    st.integers(min_value=0, max_value=99),
    st.booleans(),
    st.booleans(),
)
def test_normalize_number_roundtrip(whole, cents, parens, dollar):
    """Rendered financial forms round-trip exactly."""
    from edgar_spark.parse.numbers import normalize_number

    body = f"{abs(whole):,}" + (f".{cents:02d}" if cents else "")
    s = ("$ " if dollar else "") + (f"({body})" if parens else body)
    # Expected value must be PARSED, not built by float addition —
    # abs(whole) + cents/100.0 accumulates IEEE error (4 + 0.81 =
    # 4.8100000000000005) that strconv.ParseFloat-style parsing of
    # "4.81" never sees.
    mag = float(f"{abs(whole)}.{cents:02d}" if cents else str(abs(whole)))
    want = -mag if parens else mag
    assert normalize_number(s) == want


# ----------------------------------------------------------- tokenizer fuzz

_tag_names = st.sampled_from(["td", "tr", "a", "span", "table", "th", "div",
                              "script", "style", "br", "cik"])
_attr_vals = st.text(
    alphabet=st.sampled_from(list("abc0123&;#x<> '\"=/")), max_size=12
)
_texts = st.text(
    alphabet=st.sampled_from(list("abc012 &;#<>x \r\n'\"$(),.")), max_size=20
)


@st.composite
def _html_doc(draw):
    n = draw(st.integers(min_value=0, max_value=12))
    parts = []
    for _ in range(n):
        kind = draw(st.integers(min_value=0, max_value=9))
        name = draw(_tag_names)
        if kind == 0:
            val = draw(_attr_vals).replace('"', "")
            parts.append(f'<{name} class="{val}">')
        elif kind == 1:
            parts.append(f"</{name}>")
        elif kind == 2:
            parts.append(draw(_texts))
        elif kind == 3:
            parts.append(f"<{name}/>")
        elif kind == 4:
            parts.append(f"<!--{draw(_texts).replace('--', '-')}-->")
        elif kind == 5:
            val = draw(_attr_vals).replace("'", "")
            parts.append(f"<{name} onclick='{val}'>")
        elif kind == 6:  # unquoted / doubled-equals / empty attr values
            eq = draw(st.sampled_from(["=", "==", "= ", ""]))
            val = draw(st.sampled_from(["x", "a0", "", "x/"]))
            parts.append(f"<{name} href{eq}{val}>")
        elif kind == 7:  # declarations and bogus comments
            parts.append(draw(st.sampled_from(
                ["<!doctype html>", "<!DOCTYPE x>", "<!ENTITY e>", "<!>", "<!x>"]
            )))
        elif kind == 8:  # CDATA edge shapes
            body = draw(_texts).replace("<", "")
            closer = draw(st.sampled_from(
                ["</script>", "</scriptx>", "</ script>", "</script >", ""]
            ))
            parts.append(f"<script>{body}{closer}")
        else:  # end-tag spacing variants
            parts.append(draw(st.sampled_from(
                [f"</{name} >", f"</ {name}>", f"</{name} x>"]
            )))
    return "".join(parts)


@settings(max_examples=300, deadline=None)
@given(_html_doc())
def test_fast_tokenizer_never_diverges(doc):
    from edgar_spark.parse.tokenizer import _fast_tokenize, _slow_tokenize

    fast = _fast_tokenize(doc)
    if fast is None:  # bailed to the baseline — by construction identical
        return
    slow = _slow_tokenize(doc)
    assert len(fast) == len(slow), doc
    for a, b in zip(fast, slow):
        assert (a.type, a.data, list(a.attrs)) == (b.type, b.data, list(b.attrs)), (
            doc,
            a,
            b,
        )


def test_review_divergence_regressions():
    """Cases found by fuzz/code review: fast path must bail or agree."""
    from edgar_spark.parse.tokenizer import _fast_tokenize, _slow_tokenize

    cases = [
        "<script>a</scriptx>b&amp;c</script>",  # prefix-named end tag
        "<style>p{}</styleZZ>text</style>",
        "<!ENTITY foo>",            # non-doctype decl → bogus comment
        "<!doctype html><p>x</p>",
        "<a href==x>",              # doubled '=' folds into attrfind's '=+'
        "<a href=>",                # empty unquoted value
    ]
    for doc in cases:
        fast = _fast_tokenize(doc)
        if fast is None:
            continue
        slow = _slow_tokenize(doc)
        assert [(t.type, t.data, list(t.attrs)) for t in fast] == [
            (t.type, t.data, list(t.attrs)) for t in slow
        ], doc


def test_normalize_number_go_underscores():
    from edgar_spark.parse.numbers import normalize_number

    assert normalize_number("1_000") == 1000.0  # Go 1.13 literal syntax
    assert normalize_number("1_000.5") == 1000.5
    assert normalize_number("1_") is None  # underscore must sit between digits
    assert normalize_number("_1") is None
    assert normalize_number("١٢") is None  # Unicode digits: Go rejects


def test_go_float_rendering_small_values():
    from edgar_spark.model.jsonexport import _GoFloat

    assert repr(_GoFloat(0.00009)) == "0.00009"  # Go 'f' range reaches 1e-6
    assert repr(_GoFloat(0.0000095)) == "0.0000095"
    assert repr(_GoFloat(9e-07)) == "9e-7"  # Go trims 'e-07' → 'e-7'
    assert repr(_GoFloat(1e21)) == "1e+21"
    assert repr(_GoFloat(1.98)) == "1.98"


@settings(max_examples=200, deadline=None)
@given(st.text(min_size=0, max_size=80))
def test_md5_lower64_matches_duckdb(s):
    """The cross-engine hash contract every minhash/simhash oracle rests
    on: Python md5_lower64 == DuckDB md5_number_lower, any unicode input."""
    import duckdb

    from edgar_spark.operators.dedup import md5_lower64

    got = duckdb.execute("SELECT md5_number_lower(?)", [s]).fetchone()[0]
    assert md5_lower64(s) == got


def test_minhash_coeffs_deterministic():
    """Coefficients are pure functions of the index — the SQL literals the
    oracle embeds can never drift from what executors compute."""
    import numpy as np

    from edgar_spark.operators.dedup import MINHASH_P, minhash_coeffs

    a1, b1 = minhash_coeffs(64)
    a2, b2 = minhash_coeffs(64)
    assert (a1 == a2).all() and (b1 == b2).all()
    assert (a1 >= 1).all() and (a1 < MINHASH_P).all()
    assert (b1 < MINHASH_P).all()
    assert len(np.unique(a1)) > 60  # no degenerate collapse
