"""Array-kernel differential: `fastpath.fast_extract` must produce
byte-identical ExtractResults to the object pipeline on the synthetic
corpus, hostile inputs, and hypothesis-random HTML, in each W5 writer
mode (``MODES``: raw, wrap, indent-only, wrap + indent).

The corpus HTML here is a pure-Python replica of `pages._html_column`;
exact replica fidelity is NOT load-bearing — the differential compares
the two kernel paths on the same string, whatever it is.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lexor_spark.kernel import pipeline
from lexor_spark.kernel.fastpath import fast_extract
from lexor_spark.kernel.pipeline import ExtractResult, extract_document

SF = "/root/testdata/sf0.001"


def _page_html(doc_id: int, text: str, lang: str) -> str:
    n = len(text)
    third = n // 3
    p1, p2, p3 = text[:third], text[third:2 * third], text[2 * third:]
    title = f"Doc {doc_id} &amp; notes — site"
    head = (f'<!doctype html>\n<html lang="{lang}">\n<head><title>{title}'
            f'</title>\n<meta name="description" content="synthetic page '
            f'{doc_id}">\n<link rel="stylesheet" href="/s.css"></head>\n')
    shell_top = (f'<body>\n<header class="site-header"><h1>Site '
                 f'{doc_id % 97}</h1></header>\n'
                 '<nav class="nav"><ul><li><a href="/">Home</a>'
                 '<li><a href="/about">About »</a></ul></nav>\n'
                 '<div class="sidebar"><h3>Ads</h3><p>buy things</p></div>\n'
                 '<!-- layout: generated -->\n')
    body_core = (f"<h2>{title}</h2>\n<p>{p1}"
                 " &amp; <b>more</b> – café &#233;lève.</p>\n<p>"
                 f"{p2}</p>\n<blockquote>quoted: {p3}</blockquote>\n"
                 "<ul><li>alpha<li>beta &lt;3</ul>\n")
    v = doc_id % 4
    main_block = {
        0: f"<main>\n{body_core}</main>\n",
        1: f"<article>\n{body_core}</article>\n",
        2: f'<div class="content">\n{body_core}</div>\n',
        3: (f'<div id="main">\n{body_core}'
            "<p>trailing unclosed paragraph\n</div>\n"),
    }[v]
    shell_bottom = ('<footer class="footer">© 2026 example</footer>\n'
                    '<script>var x = "<p>not text</p>"; if (1 < 2) '
                    '{ x += "&amp;"; }</script>\n</body></html>\n')
    return head + shell_top + main_block + shell_bottom


def _run(fill, html, uri):
    """One kernel path with `extract_document`'s decode, truncation and
    error-row handling around it."""
    res = ExtractResult()
    try:
        text = pipeline._decode(html)
        if len(text) > pipeline.MAX_CHARS:
            text = text[:pipeline.MAX_CHARS]
            res.truncated = True
        fill(res, text)
    except Exception as exc:
        res.ok = False
        res.err = f"{type(exc).__name__}: {exc}"[:500]
    return res


# (width, indent) writer modes every differential runs over
MODES = [(None, ""), (70, ""), (None, "  "), (30, "> ")]


def _object_path(html, uri="", width=None, indent=""):
    """The OBJECT pipeline (no style) in one writer mode."""
    return _run(lambda res, text: pipeline._object_extract(
        res, text, uri, width, indent, None), html, uri)


def _fast_path(html, uri="", width=None, indent=""):
    """The array kernel, which `extract_document` runs for every
    unstyled call."""
    res = _run(lambda r, text: fast_extract(r, text, width, indent),
               html, uri)
    served = extract_document(html, uri, width, indent)
    for f in _FIELDS:
        assert getattr(res, f) == getattr(served, f), f
    return res


_FIELDS = ExtractResult.__slots__


def _assert_identical(html, uri="", width=None, indent=""):
    a = _object_path(html, uri, width, indent)
    b = _fast_path(html, uri, width, indent)
    for f in _FIELDS:
        assert getattr(a, f) == getattr(b, f), \
            (f, width, indent, getattr(a, f), getattr(b, f))
    return a


def test_corpus_differential():
    """Every sf0.001 document, all four page variants, every writer
    mode: every field of the result (text, spans, title, description,
    lang_attr, codes, n_nodes, ok, err) identical between the two
    kernels."""
    con = duckdb.connect()
    rows = con.execute(
        f"select doc_id, text, lang from "
        f"read_parquet('{SF}/documents.parquet') order by doc_id"
    ).fetchall()
    assert len(rows) >= 400
    n_text = 0
    for doc_id, text, lang in rows:
        html = _page_html(doc_id, text, lang).encode("utf-8")
        for width, indent in MODES:
            res = _assert_identical(html, f"u{doc_id}", width, indent)
            assert res.ok
            n_text += len(res.text)
    assert n_text > 0


HOSTILE = [
    b"",
    b"   \n\t ",
    b"\x00\x01\xff\xfe garbage \x80",
    b"<p>" + b"x" * 200_000,                      # unclosed huge tag
    ("<div>" * 5000 + "deep" + "</div>" * 5000).encode(),
    b"<table><tr><td>a<td>b<tr><td>c</table>",
    b"<!doctype html><!-- unterminated",
    b"<![CDATA[raw]]><?pi data?><?unterminated",
    b"<ul><li>one<li>two</ul></li></p></body>",   # stray closes
    b"just < text & more <3 <<< &amp; &bogus",
    b"<pre>  spaced\n\ttext  </pre> tail",
    b"<script>never closed",
    b"<p>a<b>bold</b hanging",                    # malformed tag tail
    "<main>café 中文 &#x1F600;</main>".encode(),
    b"<p>a</p stray>b",
    b"<div id=main><p>one<p>two</div>",
    b'<div class="nav menu">drop</div><div class="content">keep</div>',
    b"<html lang=fr><head><title>T &amp; t</title></head><body>x</body>",
    b"<td>cell outside table</td>",
    b"<a href='/x'>link text</a> plain",
    # drop-region skip machinery (parse-time subtree skipping):
    # meta/title/html nested INSIDE a dropped subtree still feed meta
    b"<nav><title>T2</title><meta name=description content=c>"
    b"<html lang=de><p>x</p></html></nav><p>keep</p>",
    # unclosed dropped subtree (EOF inside nav -> E100 chain)
    b"<p>keep</p><nav><ul><li>one<li>two",
    # ancestor close forces the drop-root closed (W100 inside nav)
    b"<div><nav><p>menu</div>after",
    # stray close + comment + cdata + pi + entities inside drop region
    b"<aside>a</i><!-- c --><![CDATA[d]]><?pi?>&amp; &bogus b</aside>ok",
    # drop-root auto-closed by a sibling open (p-closes-p with ad class)
    b"<p class=ad>gone<p>kept",
    # nested drop boundaries + boilerplate-class div inside nav
    b"<nav><aside><div class='ad'>x</div></aside></nav><p>y</p>",
    # self-closing drop-root is a leaf, not a region
    b"<nav/><p>after selfclose</p>",
    # rawtext inside a dropped region (script body never sliced)
    b"<footer><script>var x='</div>';</script>tail</footer><p>k</p>",
]


@pytest.mark.parametrize("html", HOSTILE)
def test_hostile_differential(html):
    for width, indent in MODES:
        res = _assert_identical(html, "hostile", width, indent)
        assert res.ok


# random-HTML differential: tags from every rule class (drop, unwrap,
# copy, void, rawtext, implied-end), malformed nesting included
_TAGS = ["div", "p", "span", "b", "ul", "li", "td", "tr", "table",
         "main", "article", "nav", "script", "pre", "br", "img", "h2",
         "blockquote", "section"]


@st.composite
def _html_soup(draw):
    parts = []
    for _ in range(draw(st.integers(1, 25))):
        kind = draw(st.integers(0, 5))
        tag = draw(st.sampled_from(_TAGS))
        if kind == 0:
            parts.append(f"<{tag}>")
        elif kind == 1:
            parts.append(f"</{tag}>")
        elif kind == 2:
            parts.append(draw(st.text(
                alphabet="ab c\n&<;é#", min_size=0, max_size=12)))
        elif kind == 3:
            cls = draw(st.sampled_from(
                ["content", "nav", "sidebar", "x", "menu promo"]))
            parts.append(f'<{tag} class="{cls}">')
        elif kind == 4:
            parts.append("<!-- c -->")
        else:
            parts.append("&amp;")
    return "".join(parts)


@given(html=_html_soup())
@settings(max_examples=300, deadline=None)
def test_random_soup_differential(html):
    for width, indent in MODES:
        _assert_identical(html, "", width, indent)
