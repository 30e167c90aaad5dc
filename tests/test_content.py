"""HTML table + head-metadata extraction (lexor_spark.content).

Kernel-level tests run without Spark (parse + walk only); two
end-to-end tests drive the mapInArrow jobs on tiny in-memory tables.
"""

from __future__ import annotations

import pytest

from lexor_spark.content import (_cells_of, _int_attr, _node_text,
                                 _table_rows, extract_meta, extract_tables)
from lexor_spark.kernel.dom import dispose
from lexor_spark.kernel.htmlparser import parse_html


def _cells(html: str):
    doc, _ = parse_html(html, "u")
    out = []
    try:
        for ti, t in enumerate(doc.get_nodes_by_name("table")):
            for ri, tr in enumerate(_table_rows(t)):
                for ci, c in enumerate(_cells_of(tr)):
                    a = c.attrs or {}
                    out.append((ti, ri, ci, c.name == "th",
                                _int_attr(a, "colspan"),
                                _int_attr(a, "rowspan"),
                                _node_text(c, skip_tables=True)))
    finally:
        dispose(doc)
    return out


def test_simple_table_with_thead():
    got = _cells("<table><thead><tr><th>a</th><th>b</th></tr></thead>"
                 "<tbody><tr><td>1</td><td>2</td></tr></tbody></table>")
    assert got == [(0, 0, 0, True, 1, 1, "a"), (0, 0, 1, True, 1, 1, "b"),
                   (0, 1, 0, False, 1, 1, "1"), (0, 1, 1, False, 1, 1, "2")]


def test_nested_table_is_its_own_table_and_outer_cell_skips_it():
    got = _cells("<table><tr><td>outer <table><tr><td>inner</td></tr>"
                 "</table> tail</td></tr></table>")
    assert (0, 0, 0, False, 1, 1, "outer tail") in got
    assert (1, 0, 0, False, 1, 1, "inner") in got
    assert len(got) == 2


def test_colspan_rowspan_and_malformed_spans():
    got = _cells('<table><tr><td colspan="2" rowspan="3">a</td>'
                 '<td colspan="x">b</td><td rowspan="0">c</td>'
                 "<td colspan=\"-4\">d</td></tr></table>")
    assert got[0][4:6] == (2, 3)
    # malformed / non-positive spans fall back to 1
    assert [c[4:6] for c in got[1:]] == [(1, 1), (1, 1), (1, 1)]


def test_entities_and_markup_inside_cells():
    got = _cells("<table><tr><td>A &amp; <b>B</b>\n  C</td></tr></table>")
    assert got == [(0, 0, 0, False, 1, 1, "A & B C")]


def test_two_sibling_tables_and_no_table():
    got = _cells("<p>no tables here</p>")
    assert got == []
    got = _cells("<table><tr><td>x</td></tr></table>"
                 "<table><tr><th>y</th></tr></table>")
    assert [(c[0], c[6]) for c in got] == [(0, "x"), (1, "y")]


def _meta(html: str):
    """Run the per-page metadata walk serially (same code path the
    Arrow batches use, exercised via extract_meta below)."""
    from lexor_spark.content import _META_ARROW, _meta_batches
    import pyarrow as pa
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["u"]), pa.array([html.encode()], type=pa.binary())],
        names=["url", "html"])
    [out] = list(_meta_batches(iter([batch])))
    row = {n: out.column(n).to_pylist()[0] for n in _META_ARROW.names}
    return row


def test_meta_title_entity_decoded_and_first_wins():
    row = _meta('<html><head><title>A &amp;  B</title>'
                '<title>SECOND</title>'
                '<meta property="og:title" content="OG1">'
                '<meta property="og:title" content="OG2-late">'
                '</head><body></body></html>')
    assert row["title"] == "A & B"
    assert row["og_title"] == "OG1"


def test_meta_all_keys_and_missing_are_null():
    row = _meta('<head>'
                '<meta name="description" content=" d ">'
                '<meta property="og:description" content="od">'
                '<meta property="og:image" content="/i.jpg">'
                '<meta property="og:type" content="article">'
                '<meta name="twitter:card" content="summary">'
                "</head>")
    assert row["title"] is None
    assert row["description"] == "d"          # content is stripped
    assert row["og_description"] == "od"
    assert row["og_image"] == "/i.jpg"
    assert row["og_type"] == "article"
    assert row["twitter_card"] == "summary"


def test_meta_name_vs_property_spaces_do_not_cross():
    # og:title must come from property=, not name=; and vice versa
    row = _meta('<head><meta name="og:title" content="X">'
                '<meta property="description" content="Y"></head>')
    assert row["og_title"] is None
    assert row["description"] is None


def test_meta_hostile_bytes_yield_null_row():
    row = _meta("\x00\xff garbage <<<>")
    assert row["title"] is None and row["og_title"] is None


@pytest.fixture(scope="module")
def tiny_pages(spark):
    rows = [
        ("a", b"<html><body><table><tr><th>h</th></tr>"
              b"<tr><td>v</td></tr></table></body></html>"),
        ("b", b"<html><head><title>T &amp; t</title>"
              b'<meta property="og:title" content="OG"></head></html>'),
        ("c", None),
    ]
    return spark.createDataFrame(rows, "url string, html binary")


def test_extract_tables_spark(tiny_pages):
    got = {(r.url, r.table_idx, r.row_idx, r.col_idx):
           (r.is_header, r.cell)
           for r in extract_tables(tiny_pages).collect()}
    assert got == {("a", 0, 0, 0): (True, "h"), ("a", 0, 1, 0): (False, "v")}


def test_extract_meta_spark(tiny_pages):
    rows = {r.url: r for r in
            extract_meta(tiny_pages).collect()}
    assert len(rows) == 3
    assert rows["b"].title == "T & t" and rows["b"].og_title == "OG"
    assert rows["a"].title is None
    assert rows["c"].title is None  # NULL html -> null metadata row


# ---------------------------------------------------------------------------
# JSON-LD extraction (kernel-level, no Spark)
# ---------------------------------------------------------------------------

def _jsonld(html: str):
    import json as _json

    from lexor_spark.content import _flatten_json
    doc, _ = parse_html(html, "u")
    out = []
    try:
        blk = 0
        for el in doc.get_nodes_by_name("script"):
            a = el.attrs or {}
            if (a.get("type") or "").strip().lower() != "application/ld+json":
                continue
            raw = getattr(el, "data", None)
            idx, blk = blk, blk + 1
            if not isinstance(raw, str) or not raw.strip():
                continue
            try:
                parsed = _json.loads(raw)
            except ValueError:
                continue
            leaves: list = []
            _flatten_json(parsed, "", leaves)
            out.extend((idx, p, v) for p, v in leaves)
    finally:
        dispose(doc)
    return out


def test_jsonld_flatten_nested_and_arrays():
    html = ('<html><head><script type="application/ld+json">'
            '{"@type":"Product","offers":{"price":5,"cur":"USD"},'
            '"tags":["a","b"],"ok":true,"none":null}'
            "</script></head><body></body></html>")
    assert _jsonld(html) == [
        (0, "@type", "Product"),
        (0, "offers.price", "5"),
        (0, "offers.cur", "USD"),
        (0, "tags[0]", "a"),
        (0, "tags[1]", "b"),
        (0, "ok", "true"),
        (0, "none", None),
    ]


def test_jsonld_malformed_spends_index_typeless_does_not():
    html = ('<html><head>'
            "<script>var x=1;</script>"                      # no type: skipped
            '<script type="application/ld+json">{"broken": </script>'
            '<script type="application/ld+json">{"a":1}</script>'
            "</head><body></body></html>")
    # malformed block consumes idx 0, valid block is idx 1
    assert _jsonld(html) == [(1, "a", "1")]


def test_jsonld_raw_text_no_entity_decode():
    html = ('<script type="application/ld+json">'
            '{"t":"A &amp; B"}</script>')
    # raw-text content: the &amp; arrives verbatim, NOT decoded to &
    assert _jsonld(html) == [(0, "t", "A &amp; B")]


def test_jsonld_array_of_objects():
    html = ('<script type="application/ld+json">'
            '[{"x":1},{"x":2}]</script>')
    assert _jsonld(html) == [(0, "[0].x", "1"), (0, "[1].x", "2")]


def test_extract_jsonld_spark(spark):
    from lexor_spark.content import extract_jsonld
    rows = [
        ("a", b'<html><head><script type="application/ld+json">'
              b'{"@type":"Article","n":3,"t":["x"]}</script></head></html>'),
        ("b", b'<script type="application/ld+json">{"bad": </script>'
              b'<script type="application/ld+json">{"k":"v"}</script>'),
        ("c", None),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = sorted(map(tuple, extract_jsonld(pages).collect()))
    assert got == [
        ("a", 0, "@type", "Article"),
        ("a", 0, "n", "3"),
        ("a", 0, "t[0]", "x"),
        ("b", 1, "k", "v"),  # malformed block spent idx 0
    ]


# ---------------------------------------------------------------- microdata

def _microdata(html: str):
    """(item_idx, itemtype, path, value) rows via the same walk the
    Arrow kernel runs (content._item_rows)."""
    from lexor_spark.content import _item_rows, _md_value
    doc, _ = parse_html(html, "u")
    return [(i, t, path, v) for _, i, t, _, path, v in _item_rows(
        "u", doc, "itemscope", "itemprop", "itemtype", _md_value)]


def test_microdata_nested_item_dotted_path_and_value_rules():
    html = ('<div itemscope itemtype="https://schema.org/Product">'
            '<span itemprop="name">P &amp; q</span>'
            '<meta itemprop="sku" content=" S1 ">'
            '<div itemprop="offers" itemscope>'
            '<span itemprop="price">9</span>'
            '<link itemprop="availability" href="/s"></div></div>')
    assert _microdata(html) == [
        (0, "https://schema.org/Product", "name", "P & q"),
        (0, "https://schema.org/Product", "sku", "S1"),
        (0, "https://schema.org/Product", "offers.price", "9"),
        (0, "https://schema.org/Product", "offers.availability", "/s"),
    ]


def test_microdata_multiname_time_and_stray():
    html = ('<p itemprop="stray">ignored</p>'
            '<article itemscope itemtype="T">'
            '<time itemprop="datePublished" datetime="2026-1-2">old</time>'
            '<a itemprop="author url" href="/u/3">U</a></article>')
    assert _microdata(html) == [
        (0, "T", "datePublished", "2026-1-2"),
        (0, "T", "author", "/u/3"),
        (0, "T", "url", "/u/3"),
    ]


def test_microdata_inner_itemscope_without_itemprop_is_own_item():
    # per WHATWG: itemscope w/o itemprop is ALWAYS a top-level item,
    # even inside another item — and its props never leak outward
    html = ('<div itemscope itemtype="A"><b itemprop="x">1</b>'
            '<div itemscope><i itemprop="y">2</i></div></div>')
    assert _microdata(html) == [
        (0, "A", "x", "1"),
        (1, None, "y", "2"),
    ]


def test_microdata_itemprop_subtree_contributes_to_same_item():
    # itemprop WITHOUT itemscope: value emitted AND descendants keep
    # contributing to the same item (WHATWG crawl order)
    html = ('<div itemscope><div itemprop="a"><span itemprop="b">2'
            '</span>zz</div></div>')
    assert _microdata(html) == [
        (0, None, "a", "2zz"),
        (0, None, "b", "2"),
    ]


def test_microdata_time_without_datetime_falls_back_to_text():
    html = '<div itemscope><time itemprop="d">yesterday</time></div>'
    assert _microdata(html) == [(0, None, "d", "yesterday")]


def test_extract_microdata_spark(spark):
    from lexor_spark.content import extract_microdata
    rows = [
        ("a", b'<div itemscope itemtype="T"><span itemprop="k">v</span>'
              b'</div>'),
        ("b", b"<p>no items</p>"),
        ("c", None),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = sorted(map(tuple, extract_microdata(pages).collect()))
    assert got == [("a", 0, "T", 0, "k", "v")]


# ---------------------------------------------------------------- rdfa

def _rdfa(html: str):
    """(item_idx, typeof, path, value) rows via the same walk the
    Arrow kernel runs (content._item_rows)."""
    from lexor_spark.content import _item_rows, _rdfa_value
    doc, _ = parse_html(html, "u")
    return [(i, t, path, v) for _, i, t, _, path, v in _item_rows(
        "u", doc, "typeof", "property", "typeof", _rdfa_value)]


def test_rdfa_nested_item_dotted_path_and_content_override():
    html = ('<div vocab="https://schema.org/" typeof="Product">'
            '<span property="name">P &amp; q</span>'
            '<meta property="sku" content=" S1 ">'
            '<div property="offers" typeof="Offer">'
            '<span property="price" content="9">$9.00</span>'
            '<link property="availability" href="/s"></div></div>')
    assert _rdfa(html) == [
        (0, "Product", "name", "P & q"),
        (0, "Product", "sku", "S1"),
        (0, "Product", "offers.price", "9"),       # content beats text
        (0, "Product", "offers.availability", "/s"),
    ]


def test_rdfa_multiname_time_resource_and_stray():
    html = ('<p property="stray">ignored</p>'
            '<article typeof="T">'
            '<time property="datePublished" datetime="2026-1-2">old</time>'
            '<a property="author url" href="/u/3">U</a>'
            '<span property="isPartOf" resource="#v1">Vol</span></article>')
    assert _rdfa(html) == [
        (0, "T", "datePublished", "2026-1-2"),
        (0, "T", "author", "/u/3"),
        (0, "T", "url", "/u/3"),
        (0, "T", "isPartOf", "#v1"),
    ]


def test_rdfa_inner_typeof_without_property_is_own_item():
    html = ('<div typeof="A"><b property="x">1</b>'
            '<div typeof=""><i property="y">2</i></div></div>')
    assert _rdfa(html) == [
        (0, "A", "x", "1"),
        (1, None, "y", "2"),
    ]


def test_rdfa_property_subtree_contributes_to_same_item():
    html = ('<div typeof="A"><div property="a"><span property="b">2'
            '</span>zz</div></div>')
    assert _rdfa(html) == [
        (0, "A", "a", "2zz"),
        (0, "A", "b", "2"),
    ]


def test_rdfa_resource_beats_href_content_beats_resource():
    html = ('<div typeof="A">'
            '<a property="p" resource="#r" href="/h">t</a>'
            '<a property="q" content="c" resource="#r" href="/h">t</a>'
            '</div>')
    assert _rdfa(html) == [
        (0, "A", "p", "#r"),
        (0, "A", "q", "c"),
    ]


def test_extract_rdfa_spark(spark):
    from lexor_spark.content import extract_rdfa
    rows = [
        ("a", b'<div typeof="T"><span property="k">v</span></div>'),
        ("b", b"<p>no items</p>"),
        ("c", None),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = sorted(map(tuple, extract_rdfa(pages).collect()))
    assert got == [("a", 0, "T", 0, "k", "v")]


# ---------------------------------------------------------------- outline

def _outline(html: str):
    from lexor_spark.content import outline_of_doc
    doc, _ = parse_html(html, "u")
    return outline_of_doc(doc)


def test_outline_numbering_and_reset():
    html = ("<h1>A</h1><h2>B</h2><h3>C</h3><h2>D</h2>"
            "<h1>E</h1><h2>F</h2>")
    assert _outline(html) == [
        (1, "1", "A"), (2, "1.1", "B"), (3, "1.1.1", "C"),
        (2, "1.2", "D"), (1, "2", "E"), (2, "2.1", "F"),
    ]


def test_outline_skipped_level_shows_zero():
    assert _outline("<h1>A</h1><h4>B</h4>") == [
        (1, "1", "A"), (4, "1.0.0.1", "B")]
    # heading before any h1: leading zero
    assert _outline("<h2>X</h2>") == [(2, "0.1", "X")]


def test_outline_deeper_counters_reset_on_shallower_heading():
    html = "<h1>A</h1><h3>B</h3><h2>C</h2><h3>D</h3>"
    assert _outline(html) == [
        (1, "1", "A"), (3, "1.0.1", "B"),
        (2, "1.1", "C"), (3, "1.1.1", "D")]


def test_outline_entity_decoded_text():
    assert _outline("<h1>A &amp; <i>B</i></h1>") == [(1, "1", "A & B")]


def test_extract_outline_spark(spark):
    from lexor_spark.content import extract_outline
    rows = [("a", b"<h1>T</h1><h2>S</h2>"), ("b", b"<p>none</p>"),
            ("c", None)]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = sorted(map(tuple, extract_outline(pages).collect()))
    assert got == [("a", 0, 1, "1", "T"), ("a", 1, 2, "1.1", "S")]
