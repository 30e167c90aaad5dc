"""Fused parse→convert→write pipeline: one document in, one record out.

This is the exact function the Spark job runs per document inside its
Arrow-batch UDF, and — run serially — the byte-identity oracle
(BASELINE.json ``north_rule``: "byte-identical extracted text per url").
The reference wires the same three stages in ``lexor()``
(`/root/reference/lexor/__init__.py:52-101`); here they are fused into one
call with no I/O, no globals, and no mutation of shared state, so the same
input bytes always produce the same output bytes on any executor, any
retry (determinism is what makes checkpointed resume sound).
"""

from __future__ import annotations

from typing import Optional, Union

from lexor_spark.kernel.dom import dispose
from lexor_spark.kernel.encoding import decode_html
from lexor_spark.kernel.extractor import collect_meta, convert, select_main
from lexor_spark.kernel.fastpath import fast_extract
from lexor_spark.kernel.htmlparser import parse_html
from lexor_spark.kernel.textwriter import write_text

__all__ = ["ExtractResult", "extract_document"]

# Hard ceiling on document size (decoded chars); larger inputs are truncated
# and flagged — a 100 MB single blob must degrade to an error-ish row, not a
# straggler task (SURVEY.md §7 "hostile inputs at scale").
MAX_CHARS = 8_000_000


def _keep_styled(rules: dict):
    """Decide wrapper for styled extraction: tags the style hooks are
    COPYed instead of UNWRAPped so their writer rules can fire; every
    other decision is the stock extraction rule-set."""
    from lexor_spark.kernel.extractor import COPY, UNWRAP, extraction_decide
    keep = frozenset(k for k in rules if not k.startswith("#"))

    def decide(node):
        d = extraction_decide(node)
        if d == UNWRAP and node.name in keep:
            return COPY
        return d
    return decide


class ExtractResult:
    """One output record. ``ok=False`` rows carry the error string instead
    of failing the task — error rows are data at 10^12-document scale."""

    __slots__ = ("text", "spans", "title", "description", "lang_attr",
                 "codes", "n_nodes", "truncated", "ok", "err")

    def __init__(self) -> None:
        self.text = ""
        self.spans: list[tuple[int, int, str]] = []
        self.title: Optional[str] = None
        self.description: Optional[str] = None
        self.lang_attr: Optional[str] = None
        self.codes: list[str] = []
        self.n_nodes = 0
        self.truncated = False
        self.ok = True
        self.err: Optional[str] = None


def _decode(html: Union[bytes, bytearray, memoryview, str]) -> str:
    """Bytes -> text through WHATWG-style charset sniffing
    (`kernel/encoding.py`: BOM > meta prescan > UTF-8 validation >
    windows-1252 fallback).  Valid-UTF-8 inputs decode exactly as the
    previous pinned utf-8/replace contract did (all goldens are UTF-8,
    so they are unchanged); non-UTF-8 crawl captures now decode through
    their declared/sniffed codec instead of degrading to U+FFFD."""
    if isinstance(html, str):
        return html
    if isinstance(html, (bytes, bytearray, memoryview)):
        return decode_html(html)[0]
    raise TypeError(f"html must be str or bytes-like, got {type(html).__name__}")


def _object_extract(res: ExtractResult, text: str, uri: str,
                    width: Optional[int], indent: str,
                    rules: Optional[dict]) -> None:
    """Fill ``res`` from the object pipeline: ``htmlparser`` → node tree
    → ``extractor.convert`` → ``textwriter``.  In production it serves
    only the W2 styles (``rules``), whose writer rules take DOM nodes.
    With ``rules=None`` it is the differential oracle of
    ``fastpath.fast_extract`` in every width/indent mode
    (tests/test_fastpath.py)."""
    doc = converted = None
    try:
        doc, log = parse_html(text, uri)
        res.codes = [e.code for e in log]
        meta = collect_meta(doc)
        res.title = meta.get("title")
        res.description = meta.get("description")
        res.lang_attr = meta.get("lang")
        if rules is None:
            converted = convert(doc)
        else:
            # A style's rules need their tags to SURVIVE conversion:
            # the default rule-set UNWRAPs inline wrappers (e.g. <a>),
            # which would make a rule keyed on them unreachable.  Same
            # coupling as the reference, where styles configure the
            # converter and the writer together (style modules carry
            # both NodeConverters and NodeWriters).
            converted = convert(doc, decide=_keep_styled(rules))
        # the parsed tree is no longer needed: dispose now (breaks cycles
        # for refcount-free'ing) and reuse the same walk for n_nodes
        res.n_nodes = dispose(doc)
        doc = None
        main = select_main(converted)
        res.text, spans = write_text(main, width=width, indent=indent,
                                     rules=rules)
        res.spans = [s.as_tuple() for s in spans]
    finally:
        # break parent↔child cycles so both trees free by refcount — the
        # batch UDF runs with the cyclic GC disabled (see dom.dispose)
        if doc is not None:
            dispose(doc)
        if converted is not None:
            dispose(converted)


def extract_document(html: Union[bytes, str], uri: str = "",
                     width: Optional[int] = None,
                     indent: str = "",
                     style: Optional[str] = None) -> ExtractResult:
    """Extract main-content text + spans from one HTML document.

    ``width``/``indent`` opt into the W5 wrap/indent writer engine
    (reference `writer.py:233-346`); ``style`` selects a named W2
    NodeWriter-rule registry (`kernel/styles.py` — writer styles as
    config, the reference's style-plugin premise, `writer.py:419-445`).
    The defaults keep the byte-pinned raw output the extraction oracle
    verifies.  Every unstyled call, any width/indent included, runs on
    the one-pass kernel (`fastpath`), which is byte-identical to the
    object path (differential-pinned in each writer mode by
    tests/test_fastpath.py) and 1.66–1.80× faster serially on
    `crawl_mix` pages, 1.76× on template pages (min of 4 interleaved
    runs per set, seed 7, one 4-vCPU x86 host); only a style takes the
    object path (`_object_extract`)."""
    res = ExtractResult()
    try:
        rules = None
        if style is not None:
            from lexor_spark.kernel.styles import style_rules
            rules = style_rules(style)
        text = _decode(html)
        if len(text) > MAX_CHARS:
            text = text[:MAX_CHARS]
            res.truncated = True
        if rules is None:
            fast_extract(res, text, width, indent)
        else:
            _object_extract(res, text, uri, width, indent, rules)
    except Exception as exc:  # hostile input → error row, not task failure
        res.ok = False
        res.err = f"{type(exc).__name__}: {exc}"[:500]
    return res
