"""jusText-style density classifier (lexor_spark.kernel.density)."""

from __future__ import annotations

from lexor_spark.kernel.density import (BAD, GOOD, LENGTH_LOW, NEARGOOD,
                                        SHORT, classify_blocks,
                                        extract_density, segment_blocks)
from lexor_spark.kernel.dom import dispose
from lexor_spark.kernel.htmlparser import parse_html

# a >200-char, stop-word-dense paragraph (context-free good)
PROSE = ("It is one of the most detailed reports that we have seen and "
         "it is clear that the data will be available to all of our "
         "readers when the full study is out because there was more of "
         "it than any of us expected to see in this part of the year.")


def _blocks(html: str):
    doc, _ = parse_html(html, "u")
    try:
        return classify_blocks(doc)
    finally:
        dispose(doc)


def _segs(html: str):
    doc, _ = parse_html(html, "u")
    try:
        return segment_blocks(doc)
    finally:
        dispose(doc)


def test_segmentation_blocks_and_skip_tags():
    got = _segs("<body><p>one</p><script>var x=1;</script>"
                "<div>two <b>bold</b></div><p> </p></body>")
    assert [b.text for b in got] == ["one", "two bold"]


def test_segmentation_link_chars_and_entities():
    [b] = _segs('<p>go <a href="/x">here &amp; there</a> now</p>')
    assert b.text == "go here & there now"
    assert b.n_link_chars == len("here & there")


def test_cf_link_density_bad():
    [b] = _blocks('<p><a href="/">' + "x" * 100 + "</a></p>")
    assert b.cf_class == BAD


def test_cf_copyright_bad():
    [b] = _blocks("<p>" + PROSE + " &copy; 2026</p>")
    assert b.cf_class == BAD


def test_cf_short_vs_bad_linked_short():
    [b] = _blocks("<p>tiny</p>")
    assert b.cf_class == SHORT
    [b] = _blocks('<p>tiny <a href="/">x</a></p>')
    # short AND linked -> bad even under the link-density threshold
    assert b.n_chars < LENGTH_LOW and b.cf_class == BAD


def test_cf_length_and_stopword_bands():
    [b] = _blocks("<p>" + PROSE + "</p>")
    assert b.cf_class == GOOD
    # same density, mid length -> near-good
    [b] = _blocks("<p>" + PROSE[:150].rsplit(" ", 1)[0] + "</p>")
    assert b.cf_class == NEARGOOD
    # long but stop-word-free -> bad
    [b] = _blocks("<p>" + "lorem12 ipsum34 " * 20 + "</p>")
    assert b.cf_class == BAD


def test_heading_promotion_and_distance_cutoff():
    got = _blocks("<h2>News</h2><p>" + PROSE + "</p>")
    assert [b.cls for b in got] == [GOOD, GOOD]
    # a long bad block between pushes the heading past 200 chars
    got = _blocks("<h2>News</h2><p>" + "zq9 " * 100 + "</p><p>"
                  + PROSE + "</p>")
    assert got[0].cls == BAD


def test_revision_short_between_goods_and_between_bads():
    got = _blocks("<p>" + PROSE + "</p><p>42</p><p>" + PROSE + "</p>")
    assert [b.cls for b in got] == [GOOD, GOOD, GOOD]
    got = _blocks("<p>" + "zq9 " * 30 + "</p><p>42</p><p>"
                  + "zq9 " * 30 + "</p>")
    assert [b.cls for b in got] == [BAD, BAD, BAD]


def test_revision_neargood_needs_one_good_side():
    near = PROSE[:150].rsplit(" ", 1)[0]
    got = _blocks("<p>" + PROSE + "</p><p>" + near + "</p>")
    assert [b.cls for b in got] == [GOOD, GOOD]
    got = _blocks("<p>" + "zq9 " * 30 + "</p><p>" + near + "</p>")
    assert [b.cls for b in got] == [BAD, BAD]


def test_extract_density_end_to_end_and_hostile():
    r = extract_density(
        ('<body><nav><a href="/">Home</a><a href="/a">About</a></nav>'
         "<p>" + PROSE + "</p></body>").encode())
    assert r.text == PROSE and r.n_blocks == 2 and r.n_good == 1
    r = extract_density(b"\x00\xff<<>>")
    assert r.n_good == 0
    r = extract_density(b"")
    assert r.text == "" and r.n_blocks == 0


def test_extract_density_pages_spark(spark):
    from lexor_spark.job import extract_density_pages
    pages = spark.createDataFrame(
        [("a", ("<p>" + PROSE + "</p>").encode()), ("b", None)],
        "url string, html binary")
    rows = {r.url: r for r in
            extract_density_pages(pages).collect()}
    assert rows["a"].text == PROSE and rows["a"].ok
    assert rows["b"].text == "" and rows["b"].ok  # empty, not a failure
