"""The page-kernel runner contract (`job._page_udf` / `job._on_dom`),
checked on every per-page operator's batch function without Spark.

Each operator gets one Arrow batch: the `test_fastpath.HOSTILE` probes,
a NULL payload, one valid page that every operator finds something in,
and one page whose kernel raises (the parse, or the operator's own
kernel, is patched to raise on the ``boom`` url).  The error contract
per operator is fixed: a DOM walk that lists things emits no rows for a
failed page, a one-row-per-page operator emits its default or
``ok=False`` row, css select one zero row per selector.
"""

from __future__ import annotations

import gc
import json

import pyarrow as pa
import pytest

from lexor_spark import content, graph, job, pdfjob, warc
from lexor_spark.kernel import density, pipeline
from lexor_spark.kernel.pdftext import build_simple_pdf
from test_fastpath import HOSTILE

VALID = (
    b'<html lang="en"><head><title>T &amp; t</title>'
    b'<meta name="description" content="d">'
    b'<meta name="robots" content="noindex">'
    b'<link rel="canonical" href="/c">'
    b'<link rel="alternate" hreflang="de" href="/de">'
    b'<script type="application/ld+json">{"@type": "Thing", "name": "n"}'
    b'</script></head><body>'
    b'<nav class="nav"><a href="/home">home</a></nav>'
    b'<div itemscope itemtype="https://schema.org/Person">'
    b'<span itemprop="name">Ann</span></div>'
    b'<div vocab="https://schema.org/" typeof="Event">'
    b'<span property="name">E</span></div>'
    b'<main><h1>Heading</h1><p>The main text of the page is a paragraph '
    b'that is long enough and has words like the and of in it.</p>'
    b'<table><tr><th>h</th><td>c</td></tr></table>'
    b'<img src="/i.png" alt="i"></main>'
    b'<footer class="footer">f</footer></body></html>')

SELECTORS = ["p", "nav a"]
REMOVE = ["nav", "footer"]

# name -> (batch function, output schema, rows of the failed page)
# ``None`` rows: the operator's own error row is checked below.
OPERATORS = {
    "extract": (job._extract_batches_inner, job._ARROW_SCHEMA, None),
    "export_nodes": (job._flatten_batches, job._NODES_ARROW, []),
    "normalize": (job._normalize_batches, job._NORM_ARROW,
                  [("boom", "", 4, 0)]),
    "css_select": (job._css_batches(SELECTORS), job._CSS_ARROW,
                   [("boom", "p", 0, None), ("boom", "nav a", 0, None)]),
    "css_rewrite": (job._rewrite_batches(REMOVE), job._REWRITE_ARROW,
                    [("boom", "", 0, 4, 0)]),
    "markdown": (job._markdown_batches, job._MD_ARROW,
                 [("boom", "", 0, False)]),
    "charset": (job._charset_batches, job._CHARSET_ARROW,
                [("boom", "utf-8", "utf8-valid", 4, "BOOM")]),
    "density": (job._density_batches, job._DENSITY_ARROW,
                [("boom", "", 0, 0, False)]),
    "tables": (content._tables_batches, content._TABLES_ARROW, []),
    "meta": (content._meta_batches, content._META_ARROW,
             [("boom",) + (None,) * 7]),
    "jsonld": (content._jsonld_batches, content._JSONLD_ARROW, []),
    "microdata": (content._microdata_batches, content._MICRODATA_ARROW, []),
    "rdfa": (content._rdfa_batches, content._RDFA_ARROW, []),
    "outline": (content._outline_batches, content._OUTLINE_ARROW, []),
    "images": (content._images_batches, content._IMAGES_ARROW, []),
    "links": (graph._links_batches, graph._LINKS_ARROW, []),
    "directives": (graph._directives_batches, graph._DIRECTIVES_ARROW,
                   [("boom", None, False, False, None, None, 0, None, None,
                     None)]),
    "alternates": (graph._alternates_batches, graph._ALTERNATES_ARROW, []),
    "wat": (warc._wat_payload_batches, warc._WAT_ARROW, None),
    "pdf": (pdfjob._extract_pdf_batches, pdfjob._PDF_ARROW, None),
}

# operators that emit exactly one row for every page
ONE_ROW = {"extract", "normalize", "css_rewrite", "markdown", "charset",
           "density", "meta", "directives", "wat", "pdf"}


@pytest.fixture
def boom(monkeypatch):
    """Make the kernels raise on the ``boom`` page."""
    real_parse = job.parse_html
    real_fast = pipeline.fast_extract
    real_density = density.extract_density

    def parse(text, uri=""):
        if uri == "boom":
            raise RuntimeError("boom")
        return real_parse(text, uri)

    def fast(res, text, width=None, indent=""):
        if text == "BOOM":
            raise RuntimeError("boom")
        real_fast(res, text, width, indent)

    def dens(html, url=""):
        if url == "boom":
            raise RuntimeError("boom")
        return real_density(html, url)

    monkeypatch.setattr(job, "parse_html", parse)
    monkeypatch.setattr(pipeline, "fast_extract", fast)
    monkeypatch.setattr(density, "extract_density", dens)


def _batch(name: str) -> pa.RecordBatch:
    valid = build_simple_pdf(["a valid pdf"]) if name == "pdf" else VALID
    urls = [f"hostile://{i}" for i in range(len(HOSTILE))]
    urls += ["hostile://null", "https://site.example/valid", "boom"]
    return pa.RecordBatch.from_arrays(
        [pa.array(urls, pa.string()),
         pa.array(HOSTILE + [None, valid, b"BOOM"], pa.binary())],
        names=["url", "html"])


def _rows_by_url(out: list[pa.RecordBatch]) -> dict[str, list[tuple]]:
    by_url: dict[str, list[tuple]] = {}
    for b in out:
        for row in zip(*(c.to_pylist() for c in b.columns)):
            by_url.setdefault(row[0], []).append(row)
    return by_url


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_operator_contract(name, boom):
    fn, schema, failed_rows = OPERATORS[name]
    batch = _batch(name)
    out = list(fn(iter([batch])))
    assert len(out) == 1
    assert out[0].schema == schema
    by_url = _rows_by_url(out)
    assert by_url.get("https://site.example/valid"), "valid page found nothing"
    if "ok" in schema.names:
        ok = schema.names.index("ok")
        assert all(r[ok] for r in by_url["https://site.example/valid"])
    if name in ONE_ROW:
        assert {u: len(r) for u, r in by_url.items()} == \
            {u: 1 for u in batch.column(0).to_pylist()}
    if failed_rows is not None:
        assert by_url.get("boom", []) == failed_rows
    if name in ("extract", "pdf"):
        [row] = by_url["boom"]
        got = dict(zip(schema.names, row))
        assert got["ok"] is False and got["err"]
    if name == "wat":
        [(_, payload)] = by_url["boom"]
        env = json.loads(payload)["Envelope"]
        assert env["WARC-Header-Metadata"] == {"WARC-Target-URI": "boom"}
        assert env["Payload-Metadata"]["HTML-Metadata"] == \
            {"Head": {}, "Links": []}


def test_hostile_pages_are_rows_not_failures():
    """No hostile probe fails a one-row operator's page."""
    for name in ONE_ROW - {"pdf"}:
        fn, schema, _ = OPERATORS[name]
        out = list(fn(iter([_batch(name)])))
        if "ok" in schema.names:
            oks = [v for b in out for v in b.column("ok").to_pylist()]
            assert all(oks[:len(HOSTILE)]), name


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_gc_state_restored(name):
    fn = OPERATORS[name][0]
    batch = _batch(name)
    try:
        gc.enable()
        list(fn(iter([batch])))
        assert gc.isenabled()

        gen = fn(iter([batch, batch]))
        next(gen)
        assert not gc.isenabled()  # off while the batches run
        gen.close()
        assert gc.isenabled()

        gc.disable()  # a caller that runs with the collector off keeps it off
        list(fn(iter([batch])))
        assert not gc.isenabled()
    finally:
        gc.enable()


def test_empty_batch_keeps_schema():
    fn, schema, _ = OPERATORS["tables"]
    empty = pa.RecordBatch.from_arrays(
        [pa.array([], pa.string()), pa.array([], pa.binary())],
        names=["url", "html"])
    [out] = list(fn(iter([empty])))
    assert out.num_rows == 0 and out.schema == schema
