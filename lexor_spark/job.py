"""The Spark extraction job: pages table → extracted text/spans + metrics.

Architecture (SURVEY.md §7, BASELINE.json ``north_rule``):

* **Arrow-batched kernel execution** — the whole lexer→parser→converter→
  writer chain (the reference's processing chain,
  `/root/reference/lexor/__init__.py:52-101`) runs fused per document
  inside one ``mapInArrow`` UDF.  There is no per-row Python dispatch at
  the Spark layer: Spark hands the UDF whole Arrow record batches; the
  per-document loop lives inside the batch.
* **Salted repartitioning** — giant HTML blobs cluster by crawl order in
  real tables; ``repartition(P, pmod(xxhash64(url), B))`` spreads them so
  no executor inherits a run of megabyte pages.  Pure column expressions →
  the exchange is planned by Catalyst, and AQE can still coalesce.
* **Per-partition metrics + lineage** — each output row carries its input
  size and kernel latency; `partition_metrics` folds them with a single
  map-side-combinable aggregation.
* **Checkpointed resume** — the corpus is processed in ``n_groups``
  url-hash groups; each group commits atomically (data files first, then a
  marker).  ``run_job`` skips committed groups, so a killed run restarts at
  the last commit.  On a real cluster the commit unit is an Iceberg
  snapshot append (``df.writeTo(tbl).append()``); this sandbox has no
  Iceberg runtime, so the fallback is a parquet dir per group + a
  ``_COMMITTED_<g>`` marker — same atomicity contract, same resume logic.
"""

from __future__ import annotations

import gc
import json
import os
import time
from typing import Iterator, Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lexor_spark.kernel.pipeline import extract_document
from lexor_spark.kernel.encoding import decode_html

__all__ = [
    "OUTPUT_SCHEMA", "NODES_SCHEMA", "extract_pages", "export_nodes", "extract_density_pages",
    "partition_metrics", "run_job", "committed_groups", "read_lineage",
    "run_job_table", "committed_groups_table",
    "css_select", "css_rewrite", "normalize_html", "convert_markdown",
]

# Output schema of the extraction stage (strings here so the schema lives
# in one greppable place; driver parses it once).
# ``n_chars_in`` counts the input html in *bytes* (before charset
# decoding), ``n_chars_out`` the output text in characters; the column
# keeps its historical name.
OUTPUT_SCHEMA = (
    "url string, text string, "
    "spans array<struct<start:long,end:long,path:string>>, "
    "title string, description string, lang_attr string, "
    "codes array<string>, n_nodes int, truncated boolean, "
    "ok boolean, err string, n_chars_in long, n_chars_out long, "
    "kernel_us long"
)

_ARROW_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("text", pa.string()),
    ("spans", pa.list_(pa.struct([("start", pa.int64()),
                                  ("end", pa.int64()),
                                  ("path", pa.string())]))),
    ("title", pa.string()),
    ("description", pa.string()),
    ("lang_attr", pa.string()),
    ("codes", pa.list_(pa.string())),
    ("n_nodes", pa.int32()),
    ("truncated", pa.bool_()),
    ("ok", pa.bool_()),
    ("err", pa.string()),
    ("n_chars_in", pa.int64()),  # input html bytes, see OUTPUT_SCHEMA
    ("n_chars_out", pa.int64()),
    ("kernel_us", pa.int64()),
])


# The cyclic GC is disabled for the duration of every batch UDF here:
# DOM trees are explicitly cycle-broken by the kernel (``dom.dispose``)
# so everything frees by refcount, and turning the collector off removes
# its cache-thrashing scans — measured ~+50% throughput at 32 workers.


def _salted_pages(pages: DataFrame, salt_buckets: int,
                  partitions: Optional[int],
                  slots_mult: int = 4) -> DataFrame:
    """The shared scan-side preamble of every kernel job: column-prune
    to (url, html) BEFORE the exchange (the shuffle moves only what the
    kernel needs), then one salted repartition on
    ``pmod(xxhash64(url), salt_buckets)``.  Fine-grained tasks
    (``slots_mult``× slots) hide per-task tail latency: a giant
    document delays one small task, not 1/cores of the corpus —
    measured +30% at local[32] over 2× slots (sweep: 4×≈8×, 16×
    worse).  That sweep was measured while every task also paid
    160-230 ms of worker CPU re-reading pyspark.zip (removed since by
    ``lexor_spark.worker_imports``), a per-task cost that weighs on
    more slots; the sweep after that fix, on a 4-vCPU host, is in
    BENCH/BASELINE.md."""
    sc = pages.sparkSession.sparkContext
    if partitions is None:
        partitions = sc.defaultParallelism * slots_mult
    return (pages.select("url", "html")
            .repartition(partitions,
                         F.pmod(F.xxhash64("url"), F.lit(salt_buckets))))


def _extract_batches_inner(batches: Iterator[pa.RecordBatch],
                           width: Optional[int] = None,
                           indent: str = "",
                           style: Optional[str] = None
                           ) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        urls = batch.column("url").to_pylist()
        htmls = batch.column("html").to_pylist()
        out: dict[str, list] = {name: [] for name in _ARROW_SCHEMA.names}
        for url, html in zip(urls, htmls):
            t0 = time.perf_counter_ns()
            res = extract_document(html if html is not None else b"", url,
                                   width, indent, style)
            dt_us = (time.perf_counter_ns() - t0) // 1000
            out["url"].append(url)
            out["text"].append(res.text)
            out["spans"].append(
                [{"start": s, "end": e, "path": p} for (s, e, p) in res.spans])
            out["title"].append(res.title)
            out["description"].append(res.description)
            out["lang_attr"].append(res.lang_attr)
            out["codes"].append(res.codes)
            out["n_nodes"].append(res.n_nodes)
            out["truncated"].append(res.truncated)
            out["ok"].append(res.ok)
            out["err"].append(res.err)
            out["n_chars_in"].append(len(html) if html is not None else 0)
            out["n_chars_out"].append(len(res.text))
            out["kernel_us"].append(dt_us)
        yield pa.RecordBatch.from_arrays(
            [pa.array(out[name], type=_ARROW_SCHEMA.field(name).type)
             for name in _ARROW_SCHEMA.names],
            schema=_ARROW_SCHEMA)


def _extract_batches_wrapped(width: Optional[int], indent: str,
                             style: Optional[str] = None):
    """Batch-UDF factory for the extraction kernel; ``(None, "")`` is
    the default raw-output path (bound once at module level below as
    ``_extract_batches`` — a stable reference, no per-call closure).

    ``style`` names a W2 writer-rule registry (`kernel/styles.py`),
    resolved worker-side so only the string crosses the closure."""
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            yield from _extract_batches_inner(batches, width, indent, style)
        finally:
            if gc_was_enabled:
                gc.enable()
    return run


_extract_batches = _extract_batches_wrapped(None, "")


def extract_pages(pages: DataFrame, salt_buckets: int = 256,
                  partitions: Optional[int] = None,
                  width: Optional[int] = None,
                  indent: str = "",
                  style: Optional[str] = None) -> DataFrame:
    """pages (url, html, ...) → extraction output DataFrame.

    Column-prunes to (url, html) *before* the exchange so the shuffle
    moves only what the kernel needs; the salt is a pure expression so
    Catalyst plans a single hash exchange.

    ``width``/``indent`` switch the writer stage into the W5 wrap/indent
    mode (corpus-scale `lexor FILE to text --width`); defaults produce
    the byte-pinned raw text of the north rule.  ``style`` names
    a W2 writer-rule registry (`kernel/styles.py` — e.g.
    'training_text': visible link targets, image placeholders, table
    omission markers); the name is validated on the driver so a typo
    fails fast, and resolved again worker-side."""
    if style is not None:
        from lexor_spark.kernel.styles import style_rules
        style_rules(style)  # driver-side validation
    salted = _salted_pages(pages, salt_buckets, partitions)
    if width is None and not indent and style is None:
        return salted.mapInArrow(_extract_batches, OUTPUT_SCHEMA)
    return salted.mapInArrow(_extract_batches_wrapped(width, indent, style),
                             OUTPUT_SCHEMA)


def partition_metrics(extracted: DataFrame) -> DataFrame:
    """Per-partition skew/latency metrics (one map-side-combinable agg)."""
    return (
        extracted
        .groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars_in").alias("bytes_in"),
            F.sum("n_chars_out").alias("chars_out"),
            F.sum("kernel_us").alias("kernel_us_total"),
            F.max("kernel_us").alias("kernel_us_max"),
            F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("n_errors"),
            F.sum(F.when(F.col("truncated"), 1).otherwise(0)).alias("n_truncated"),
        )
    )


# ---------------------------------------------------------------------------
# DOM flatten-export (SURVEY.md §1.3): the node tree as a corpus-level table
# ---------------------------------------------------------------------------

NODES_SCHEMA = ("url string, node_id int, parent_id int, name string, "
                "kind string, n_attrs int, class string, id string, "
                "data_prefix string, line int, col int")

_NODES_ARROW = pa.schema([
    ("url", pa.string()), ("node_id", pa.int32()), ("parent_id", pa.int32()),
    ("name", pa.string()), ("kind", pa.string()), ("n_attrs", pa.int32()),
    ("class", pa.string()), ("id", pa.string()),
    ("data_prefix", pa.string()), ("line", pa.int32()), ("col", pa.int32()),
])


def _flatten_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    import gc
    from bisect import bisect_left

    from lexor_spark.kernel.dom import CharacterData, Element, dispose
    from lexor_spark.kernel.htmlparser import parse_html
    # save/restore (not blind enable): the outer task context may itself
    # run with the collector off
    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        for batch in batches:
            urls = batch.column("url").to_pylist()
            htmls = batch.column("html").to_pylist()
            cols: dict[str, list] = {n: [] for n in _NODES_ARROW.names}
            for url, html in zip(urls, htmls):
                doc = None
                mark = len(cols["url"])  # rollback point: a mid-walk
                # exception must not leave ragged column lists
                try:
                    text = decode_html(html or b"")[0]
                    doc, _ = parse_html(text, url)
                    # node.pos is a source offset; derive (line, col) in
                    # bulk from one newline index per document
                    nls = [k for k, ch in enumerate(text) if ch == "\n"]

                    def _lc(off: int) -> tuple[int, int]:
                        if off < 0:
                            return (0, 0)
                        idx = bisect_left(nls, off)
                        prev = nls[idx - 1] if idx else -1
                        return (idx + 1, off - prev)
                    # preorder DFS ⇒ a parent is always numbered before
                    # its children; node_id = visit order
                    ids: dict[int, int] = {}
                    for nid, node in enumerate(doc.iter()):
                        ids[id(node)] = nid
                        parent = node.parent
                        pid = ids[id(parent)] if parent is not None else -1
                        is_el = isinstance(node, Element)
                        cols["url"].append(url)
                        cols["node_id"].append(nid)
                        cols["parent_id"].append(pid)
                        cols["name"].append(node.name)
                        cols["kind"].append(type(node).__name__)
                        cols["n_attrs"].append(len(node.attrs) if is_el else 0)
                        cols["class"].append(node.attrs.get("class") if is_el else None)
                        cols["id"].append(node.attrs.get("id") if is_el else None)
                        data = node.data if isinstance(node, CharacterData) else None
                        cols["data_prefix"].append(data[:64] if data else None)
                        line, col = _lc(node.pos)
                        cols["line"].append(line)
                        cols["col"].append(col)
                except Exception:
                    for lst in cols.values():
                        del lst[mark:]
                    continue
                finally:
                    # dispose on every path: with the cyclic GC off, an
                    # undisposed tree never frees
                    if doc is not None:
                        dispose(doc)
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[n], type=_NODES_ARROW.field(n).type)
                 for n in _NODES_ARROW.names], schema=_NODES_ARROW)
    finally:
        if gc_was_enabled:
            gc.enable()


def export_nodes(pages: DataFrame, salt_buckets: int = 256,
                 partitions: Optional[int] = None) -> DataFrame:
    """Flatten every page's DOM into one corpus-level node table
    (url, node_id, parent_id, name, kind, attrs summary, pos) — the
    §1.3 export that lets tag/class queries run as DataFrame filters."""
    salted = _salted_pages(pages, salt_buckets, partitions, slots_mult=8)
    return salted.mapInArrow(_flatten_batches, NODES_SCHEMA)


# ---------------------------------------------------------------------------
# HTML normalization (parse → serialize: the reference's writer path)
# ---------------------------------------------------------------------------

NORMALIZE_SCHEMA = "url string, norm_html string, n_in long, n_out long"

_NORM_ARROW = pa.schema([
    ("url", pa.string()), ("norm_html", pa.string()),
    ("n_in", pa.int64()), ("n_out", pa.int64()),
])


def _normalize_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    import gc

    from lexor_spark.kernel.dom import dispose
    from lexor_spark.kernel.htmlparser import parse_html
    from lexor_spark.kernel.htmlwriter import write_html
    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        for batch in batches:
            urls = batch.column("url").to_pylist()
            htmls = batch.column("html").to_pylist()
            cols: dict[str, list] = {n: [] for n in _NORM_ARROW.names}
            for url, html in zip(urls, htmls):
                raw = bytes(html or b"")
                doc = None
                try:
                    doc, _ = parse_html(decode_html(raw)[0], url)
                    norm = write_html(doc)
                except Exception:
                    norm = ""
                finally:
                    if doc is not None:
                        dispose(doc)
                cols["url"].append(url)
                cols["norm_html"].append(norm)
                cols["n_in"].append(len(raw))
                cols["n_out"].append(len(norm))
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[n], type=_NORM_ARROW.field(n).type)
                 for n in _NORM_ARROW.names], schema=_NORM_ARROW)
    finally:
        if gc_was_enabled:
            gc.enable()


def normalize_html(pages: DataFrame, salt_buckets: int = 256,
                   partitions: Optional[int] = None) -> DataFrame:
    """parse→serialize normal form per page (idempotent; the writer-path
    operator a markup→markup converter user needs)."""
    salted = _salted_pages(pages, salt_buckets, partitions)
    return salted.mapInArrow(_normalize_batches, NORMALIZE_SCHEMA)


# ---------------------------------------------------------------------------
# Corpus-level CSS selection (reference selector.py S1-S4, Spark-side)
# ---------------------------------------------------------------------------

CSS_SCHEMA = ("url string, selector string, n_matches int, "
              "first_text string")

_CSS_ARROW = pa.schema([
    ("url", pa.string()), ("selector", pa.string()),
    ("n_matches", pa.int32()), ("first_text", pa.string()),
])


def _css_batches(selectors: list[str]):
    """Batch UDF factory: parse each page once, evaluate every selector
    against the same tree (amortizes the parse — the dominant cost —
    across the selector list)."""
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import gc

        from lexor_spark.kernel.dom import dispose
        from lexor_spark.kernel.htmlparser import parse_html
        from lexor_spark.kernel.selector import query
        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            for batch in batches:
                urls = batch.column("url").to_pylist()
                htmls = batch.column("html").to_pylist()
                cols: dict[str, list] = {n: [] for n in _CSS_ARROW.names}
                for url, html in zip(urls, htmls):
                    doc = None
                    mark = len(cols["url"])  # rollback point: an
                    # exception mid-selector-loop must not leave a
                    # partial row set that the except block then doubles
                    try:
                        text = decode_html(html or b"")[0]
                        doc, _ = parse_html(text, url)
                        for sel in selectors:
                            found = query(doc, sel)
                            first = (found[0].text_content().strip()[:128]
                                     if found else None)
                            cols["url"].append(url)
                            cols["selector"].append(sel)
                            cols["n_matches"].append(len(found))
                            cols["first_text"].append(first)
                    except Exception:
                        for lst in cols.values():
                            del lst[mark:]
                        for sel in selectors:
                            cols["url"].append(url)
                            cols["selector"].append(sel)
                            cols["n_matches"].append(0)
                            cols["first_text"].append(None)
                    finally:
                        if doc is not None:
                            dispose(doc)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(cols[n], type=_CSS_ARROW.field(n).type)
                     for n in _CSS_ARROW.names], schema=_CSS_ARROW)
        finally:
            if gc_was_enabled:
                gc.enable()
    return run


def css_select(pages: DataFrame, selectors: list[str],
               salt_buckets: int = 256,
               partitions: Optional[int] = None) -> DataFrame:
    """Per-url match counts + first-match text for each CSS selector
    (url, selector, n_matches, first_text).

    Selectors are validated on the driver (`tokenize` raises on grammar
    errors) so a typo fails fast instead of 10^12 rows in.  One fused
    `mapInArrow` pass: the page is parsed once regardless of how many
    selectors are probed.
    """
    from lexor_spark.kernel.selector import tokenize
    for sel in selectors:
        tokenize(sel)  # driver-side validation
    salted = _salted_pages(pages, salt_buckets, partitions)
    return salted.mapInArrow(_css_batches(selectors), CSS_SCHEMA)


REWRITE_SCHEMA = ("url string, html_out string, n_removed int, "
                  "n_in long, n_out long")

_REWRITE_ARROW = pa.schema([
    ("url", pa.string()), ("html_out", pa.string()),
    ("n_removed", pa.int32()), ("n_in", pa.int64()), ("n_out", pa.int64()),
])


def _rewrite_batches(selectors: list[str]):
    """Batch UDF factory for `css_rewrite`: parse → Selector.remove()
    per probe → re-serialize."""
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import gc

        from lexor_spark.kernel.dom import dispose
        from lexor_spark.kernel.htmlparser import parse_html
        from lexor_spark.kernel.htmlwriter import write_html
        from lexor_spark.kernel.selector import Selector
        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            for batch in batches:
                urls = batch.column("url").to_pylist()
                htmls = batch.column("html").to_pylist()
                cols: dict[str, list] = {n: [] for n in _REWRITE_ARROW.names}
                for url, html in zip(urls, htmls):
                    doc = None
                    raw = bytes(html or b"")
                    try:
                        doc, _ = parse_html(decode_html(raw)[0], url)
                        n_removed = 0
                        for sel in selectors:
                            hit = Selector(sel, doc)
                            n_removed += len(hit)
                            hit.remove()
                        out = write_html(doc)
                    except Exception:
                        out, n_removed = "", 0
                    finally:
                        if doc is not None:
                            dispose(doc)
                    cols["url"].append(url)
                    cols["html_out"].append(out)
                    cols["n_removed"].append(n_removed)
                    cols["n_in"].append(len(raw))
                    cols["n_out"].append(len(out))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(cols[n], type=_REWRITE_ARROW.field(n).type)
                     for n in _REWRITE_ARROW.names], schema=_REWRITE_ARROW)
        finally:
            if gc_was_enabled:
                gc.enable()
    return run


def css_rewrite(pages: DataFrame, remove_selectors: list[str],
                salt_buckets: int = 256,
                partitions: Optional[int] = None) -> DataFrame:
    """Corpus-scale selector-driven DOM rewrite: drop every element
    matching any of ``remove_selectors``, re-serialize the page
    (url, html_out, n_removed, n_in, n_out) — the S4 `Selector` edit
    verbs (reference `selector.py:306-624`) applied distributed, e.g.
    stripping nav/ads/footers with author-style rules instead of the
    built-in converter heuristics.  Selector grammar is validated on
    the driver; one fused `mapInArrow` pass."""
    from lexor_spark.kernel.selector import tokenize
    for sel in remove_selectors:
        tokenize(sel)
    salted = _salted_pages(pages, salt_buckets, partitions)
    return salted.mapInArrow(_rewrite_batches(remove_selectors),
                             REWRITE_SCHEMA)


# ---------------------------------------------------------------------------
# HTML → Markdown conversion (the reference's flagship target)
# ---------------------------------------------------------------------------

MARKDOWN_SCHEMA = "url string, markdown string, n_chars long, ok boolean"

_MD_ARROW = pa.schema([
    ("url", pa.string()), ("markdown", pa.string()),
    ("n_chars", pa.int64()), ("ok", pa.bool_()),
])


def _markdown_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    import gc

    from lexor_spark.kernel.dom import dispose
    from lexor_spark.kernel.htmlparser import parse_html
    from lexor_spark.kernel.mdwriter import write_markdown
    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        for batch in batches:
            urls = batch.column("url").to_pylist()
            htmls = batch.column("html").to_pylist()
            cols: dict[str, list] = {n: [] for n in _MD_ARROW.names}
            for url, html in zip(urls, htmls):
                ok = True
                doc = None
                try:
                    doc, _ = parse_html(decode_html(html or b"")[0], url)
                    text = write_markdown(doc)
                except Exception:
                    text, ok = "", False
                finally:
                    if doc is not None:
                        dispose(doc)
                cols["url"].append(url)
                cols["markdown"].append(text)
                cols["n_chars"].append(len(text))
                cols["ok"].append(ok)
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[n], type=_MD_ARROW.field(n).type)
                 for n in _MD_ARROW.names], schema=_MD_ARROW)
    finally:
        if gc_was_enabled:
            gc.enable()


def convert_markdown(pages: DataFrame, salt_buckets: int = 256,
                     partitions: Optional[int] = None) -> DataFrame:
    """html → markdown per page (`lexor file.html to markdown` at corpus
    scale), salted + Arrow-batched like every kernel job."""
    salted = _salted_pages(pages, salt_buckets, partitions)
    return salted.mapInArrow(_markdown_batches, MARKDOWN_SCHEMA)


CHARSET_SCHEMA = ("url string, encoding string, source string, "
                  "n_chars int, decoded_prefix string")

_CHARSET_ARROW = pa.schema([
    ("url", pa.string()), ("encoding", pa.string()), ("source", pa.string()),
    ("n_chars", pa.int32()), ("decoded_prefix", pa.string()),
])


def _charset_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    from lexor_spark.kernel.encoding import decode_html
    for batch in batches:
        urls = batch.column("url").to_pylist()
        htmls = batch.column("html").to_pylist()
        cols: dict[str, list] = {n: [] for n in _CHARSET_ARROW.names}
        for url, html in zip(urls, htmls):
            text, codec, source = decode_html(html or b"")
            cols["url"].append(url)
            cols["encoding"].append(codec)
            cols["source"].append(source)
            cols["n_chars"].append(len(text))
            cols["decoded_prefix"].append(text[:2000])
        yield pa.RecordBatch.from_arrays(
            [pa.array(cols[n], type=_CHARSET_ARROW.field(n).type)
             for n in _CHARSET_ARROW.names], schema=_CHARSET_ARROW)


def sniff_charsets(pages: DataFrame, salt_buckets: int = 256,
                   partitions: Optional[int] = None) -> DataFrame:
    """Per-page charset sniff + decode audit over an (url, html binary)
    table — WHATWG BOM/meta-prescan/UTF-8-validation/windows-1252 chain
    (`kernel/encoding.py`; the reference kernel takes pre-decoded text,
    so byte-level detection is pipeline-side by design).  Emits the
    chosen codec, the DECISION SOURCE (bom/meta/utf8-valid/fallback) for
    corpus encoding telemetry, and a decoded prefix so callers can
    verify content survived (the `charset_sniff` gate query checks a
    per-variant marker downstream as a plain Catalyst expression).
    Scan-side projection + the same salted exchange as extraction; one
    fused mapInArrow pass, no per-row Python."""
    salted = _salted_pages(pages, salt_buckets, partitions)
    return salted.mapInArrow(_charset_batches, CHARSET_SCHEMA)


# ---------------------------------------------------------------------------
# Checkpointed, resumable run
# ---------------------------------------------------------------------------

DENSITY_SCHEMA = ("url string, text string, n_blocks int, "
                  "n_good int, ok boolean")

_DENSITY_ARROW = pa.schema([
    ("url", pa.string()), ("text", pa.string()),
    ("n_blocks", pa.int32()), ("n_good", pa.int32()),
    ("ok", pa.bool_()),
])


def _density_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    import gc

    from lexor_spark.kernel.density import extract_density as _dens
    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        for batch in batches:
            urls = batch.column("url").to_pylist()
            htmls = batch.column("html").to_pylist()
            cols: dict[str, list] = {n: [] for n in _DENSITY_ARROW.names}
            for url, html in zip(urls, htmls):
                try:
                    r = _dens(html or b"", url)
                    text, nb, ng, ok = r.text, r.n_blocks, r.n_good, True
                except Exception:
                    text, nb, ng, ok = "", 0, 0, False
                cols["url"].append(url)
                cols["text"].append(text)
                cols["n_blocks"].append(nb)
                cols["n_good"].append(ng)
                cols["ok"].append(ok)
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[n], type=_DENSITY_ARROW.field(n).type)
                 for n in _DENSITY_ARROW.names], schema=_DENSITY_ARROW)
    finally:
        if gc_was_enabled:
            gc.enable()


def extract_density_pages(pages: DataFrame, salt_buckets: int = 256,
                          partitions: Optional[int] = None) -> DataFrame:
    """jusText-style density-based main-content extraction, corpus-wide
    (`kernel/density.py`: block segmentation -> link/stop-word-density
    classification -> neighbour revision).  The DOM-heuristic SECOND
    extractor next to the rule-driven converter (`extract_pages`) — a
    quality pipeline diffs the two to find pages where tag structure
    and text statistics disagree.  Same fused salted-mapInArrow plan,
    map-only at 10^12 pages; hostile bytes yield ok=false rows, never
    task failures."""
    salted = _salted_pages(pages, salt_buckets, partitions)
    return salted.mapInArrow(_density_batches, DENSITY_SCHEMA)


def extractor_diff(pages: DataFrame, lo_f1: float = 0.5,
                   hi_f1: float = 0.8,
                   salt_buckets: int = 256,
                   partitions: Optional[int] = None) -> DataFrame:
    """Cross-extractor QA: run BOTH main-content extractors — the
    rule-driven converter (:func:`extract_pages`) and the jusText-style
    density classifier (:func:`extract_density_pages`) — over the same
    pages and score their token-level agreement per page
    (:func:`lexor_spark.evals.eval_extraction` multiset P/R/F1, kernel
    side as 'gold').  Pages where tag structure and text statistics
    disagree are exactly where extraction errors hide; routing the
    `diverge` slice to review (or to the conservative intersection) is
    the standard two-extractor QA pass (jusText/trafilatura evaluation
    practice).

    Verdict per page: `agree` (f1 ≥ hi_f1), `lean` (between), `diverge`
    (f1 < lo_f1 with both non-empty), `kernel_only` / `density_only`
    (one extractor returned nothing), `both_empty`.  Every input page
    appears exactly once — the eval join drops token-less pages, so the
    page list is left-joined back.

    Scale shape: two map-only salted kernel passes over the same scan,
    one (url, token)-keyed partial-agg join (hot tokens spread by the
    url key), then a urls-sized left join; nothing corpus-sized ever
    sits in one task."""
    from lexor_spark.evals import eval_extraction

    kern = extract_pages(pages, salt_buckets, partitions) \
        .select("url", "text")
    dens = extract_density_pages(pages, salt_buckets, partitions) \
        .select("url", "text")
    ev = (eval_extraction(kern, dens, id_col="url", text_col="text")
          .withColumnRenamed("doc_id", "url")
          .withColumnRenamed("n_gold", "n_kernel")
          .withColumnRenamed("n_extracted", "n_density"))
    base = pages.select("url")
    j = (base.join(ev, "url", "left")
         .select("url",
                 F.coalesce("n_kernel", F.lit(0)).alias("n_kernel"),
                 F.coalesce("n_density", F.lit(0)).alias("n_density"),
                 F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
                 F.coalesce("precision", F.lit(0.0)).alias("precision"),
                 F.coalesce("recall", F.lit(0.0)).alias("recall"),
                 F.coalesce("f1", F.lit(0.0)).alias("f1")))
    nk, nd, f1 = F.col("n_kernel"), F.col("n_density"), F.col("f1")
    verdict = (F.when((nk == 0) & (nd == 0), "both_empty")
               .when(nd == 0, "kernel_only")
               .when(nk == 0, "density_only")
               .when(f1 >= hi_f1, "agree")
               .when(f1 < lo_f1, "diverge")
               .otherwise("lean"))
    return j.select("url", "n_kernel", "n_density", "n_overlap",
                    "precision", "recall", "f1",
                    verdict.alias("verdict"))


def extract_consensus(pages: DataFrame, lo_f1: float = 0.5,
                      salt_buckets: int = 256,
                      partitions: Optional[int] = None) -> DataFrame:
    """The routing SINK for :func:`extractor_diff`: one final
    extraction table per page with the production choice applied —
    kernel text when the kernel found content, density text as the
    fallback when the kernel came back empty but the statistics kept
    prose (e.g. content inside a boilerplate-classed container the
    rule-set drops), and a ``needs_review`` flag on genuine
    disagreements (both non-empty, token-F1 < ``lo_f1``) so a curation
    pipeline can quarantine exactly the pages where the two extractors
    tell different stories instead of silently trusting either.

    Output: (url, text, source 'kernel'|'density'|'none',
    needs_review, f1).

    Both extractor outputs are ``localCheckpoint``-materialized because
    each feeds BOTH the agreement eval and the final text choice — one
    kernel parse per extractor, not two (at production scale persist
    them to the job's parquet staging area instead; same plan, durable
    materialization)."""
    from lexor_spark.evals import eval_extraction

    kern = (extract_pages(pages, salt_buckets, partitions)
            .select("url", F.col("text").alias("k_text"))
            .localCheckpoint(eager=True))
    dens = (extract_density_pages(pages, salt_buckets, partitions)
            .select("url", F.col("text").alias("d_text"))
            .localCheckpoint(eager=True))
    ev = (eval_extraction(kern.select("url", F.col("k_text").alias("text")),
                          dens.select("url", F.col("d_text").alias("text")),
                          id_col="url")
          .withColumnRenamed("doc_id", "url")
          .select("url", "f1"))
    k_has = F.length(F.coalesce("k_text", F.lit(""))) > 0
    d_has = F.length(F.coalesce("d_text", F.lit(""))) > 0
    j = (pages.select("url")
         .join(kern, "url", "left").join(dens, "url", "left")
         .join(ev, "url", "left"))
    source = (F.when(k_has, "kernel")
              .when(d_has, "density")
              .otherwise("none"))
    text = (F.when(k_has, F.col("k_text"))
            .when(d_has, F.col("d_text"))
            .otherwise(F.lit("")))
    f1 = F.coalesce("f1", F.lit(0.0))
    review = k_has & d_has & (f1 < lo_f1)
    return j.select("url", text.alias("text"), source.alias("source"),
                    review.alias("needs_review"), f1.alias("f1"))


def committed_groups(output_dir: str) -> set[int]:
    """Groups already committed by a previous (possibly killed) run."""
    done: set[int] = set()
    lineage_dir = os.path.join(output_dir, "_lineage")
    if not os.path.isdir(lineage_dir):
        return done
    for name in os.listdir(lineage_dir):
        if name.startswith("group-") and name.endswith(".json"):
            done.add(int(name[len("group-"):-len(".json")]))
    return done


LINEAGE_SCHEMA = ("group int, n_groups int, n_rows long, bytes_in long, "
                  "chars_out long, kernel_us_total long, kernel_us_max long, "
                  "n_errors long, n_truncated long, wall_s double, "
                  "salt_buckets int")


def read_lineage(spark: SparkSession, output_dir: str) -> DataFrame:
    """The job's per-group lineage commits as a queryable DataFrame —
    the 'per-partition lineage + metrics tables' surface of the north
    rule: each row is one atomically-committed group (its marker IS the
    commit point), so joins against this table answer 'what exactly is
    on disk and what did it cost' after any number of kills/resumes.
    On a real cluster the same records live in an Iceberg table's
    snapshot metadata; here they are the marker files.  Zero committed
    groups (fresh dir, or killed before the first commit) is a valid
    state: returns an empty DataFrame, not a missing-path error."""
    lineage_dir = os.path.join(output_dir, "_lineage")
    has_any = os.path.isdir(lineage_dir) and any(
        n.startswith("group-") and n.endswith(".json")
        for n in os.listdir(lineage_dir))
    if not has_any:
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    return (spark.read.schema(LINEAGE_SCHEMA)
            .json(f"{lineage_dir}/group-*.json"))


def _group_record(written: DataFrame, g: int, n_groups: int,
                  t0: float, salt_buckets: int) -> dict:
    """One committed group's lineage record, aggregated from the rows
    actually on disk/in the table (no kernel recompute)."""
    stats = written.agg(
        F.count("*").alias("n_rows"),
        F.sum("n_chars_in").alias("bytes_in"),
        F.sum("n_chars_out").alias("chars_out"),
        F.sum("kernel_us").alias("kernel_us_total"),
        F.max("kernel_us").alias("kernel_us_max"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("n_errors"),
        F.sum(F.when(F.col("truncated"), 1).otherwise(0))
         .alias("n_truncated"),
    ).collect()[0]
    return {
        "group": g,
        "n_groups": n_groups,
        "n_rows": stats["n_rows"],
        "bytes_in": int(stats["bytes_in"] or 0),
        "chars_out": int(stats["chars_out"] or 0),
        "kernel_us_total": int(stats["kernel_us_total"] or 0),
        "kernel_us_max": int(stats["kernel_us_max"] or 0),
        "n_errors": int(stats["n_errors"] or 0),
        "n_truncated": int(stats["n_truncated"] or 0),
        "wall_s": round(time.time() - t0, 3),
        "salt_buckets": salt_buckets,
    }


def run_job(spark: SparkSession, pages: DataFrame, output_dir: str,
            n_groups: int = 8, salt_buckets: int = 256,
            partitions: Optional[int] = None,
            max_groups: Optional[int] = None) -> dict:
    """Process ``pages`` in url-hash groups with commit-per-group.

    Group predicate and salt use the same ``xxhash64(url)`` so group
    filtering is a cheap scan-side predicate while salting still spreads
    within the group.  Returns a lineage summary dict.

    ``max_groups`` limits how many *new* groups to process this call —
    that is how tests simulate a kill between commits."""
    os.makedirs(os.path.join(output_dir, "_lineage"), exist_ok=True)
    done = committed_groups(output_dir)
    group_col = F.pmod(F.xxhash64("url"), F.lit(n_groups))
    processed: list[dict] = []
    for g in range(n_groups):
        if g in done:
            continue
        if max_groups is not None and len(processed) >= max_groups:
            break
        t0 = time.time()
        part = pages.filter(group_col == g)
        extracted = extract_pages(part, salt_buckets, partitions)
        data_path = os.path.join(output_dir, f"group={g}")
        extracted.write.mode("overwrite").parquet(data_path)
        # metrics come from the *written* files (no recompute of the
        # kernel): one cheap aggregate per committed group
        record = _group_record(spark.read.parquet(data_path), g, n_groups,
                               t0, salt_buckets)
        # marker write is the commit point: data is fully on disk first
        marker = os.path.join(output_dir, "_lineage", f"group-{g}.json")
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(record, fh)
        os.replace(tmp, marker)
        processed.append(record)
    return {
        "processed": processed,
        "skipped_committed": sorted(done),
        "complete": len(committed_groups(output_dir)) == n_groups,
    }


# ---------------------------------------------------------------------------
# Catalog-table commit variant (the Iceberg-snapshot shape of the north
# rule, expressed through the V2 writer so ANY V2-writable catalog works)
# ---------------------------------------------------------------------------

def committed_groups_table(spark: SparkSession, table: str) -> set[int]:
    """Groups already committed to ``table`` — the committed set IS the
    set of distinct ``group`` values present, because each group is one
    append."""
    if not spark.catalog.tableExists(table):
        return set()
    return {r["group"]
            for r in spark.table(table).select("group").distinct().collect()}


def run_job_table(spark: SparkSession, pages: DataFrame, table: str,
                  n_groups: int = 8, salt_buckets: int = 256,
                  partitions: Optional[int] = None,
                  max_groups: Optional[int] = None,
                  provider: str = "parquet") -> dict:
    """`run_job` with the commit unit the north rule names: one catalog
    **table append per group** via the DataFrameWriterV2
    (``df.writeTo(table).append()``), instead of parquet dirs + marker
    files.  On a cluster with an Iceberg catalog the append is one
    atomic snapshot — a killed run restarts at the last committed
    snapshot, and ``committed_groups_table`` (distinct ``group`` values)
    is exactly the snapshot-visible state.  ``provider`` is ``iceberg``
    there; the default ``parquet`` exercises the identical code path on
    this sandbox's built-in catalog (where append atomicity is
    approximate — which is why the marker-file `run_job` remains the
    local-mode default).  Returns the same lineage summary shape.

    Committed-ness is derived from data rows, so the work list is the
    set of NON-EMPTY groups (one cheap distinct over the url-hash
    column) — a group no url hashes to can never be pending forever."""
    done = committed_groups_table(spark, table)
    group_col = F.pmod(F.xxhash64("url"), F.lit(n_groups))
    expected = {int(r["g"]) for r in
                pages.select(group_col.alias("g")).distinct().collect()}
    processed: list[dict] = []
    for g in sorted(expected):
        if g in done:
            continue
        if max_groups is not None and len(processed) >= max_groups:
            break
        t0 = time.time()
        part = pages.filter(group_col == g)
        extracted = extract_pages(part, salt_buckets, partitions) \
            .withColumn("group", F.lit(g))
        if spark.catalog.tableExists(table):
            try:
                extracted.writeTo(table).append()
            except Exception:
                # the sandbox's session catalog serves V1 tables, which
                # the V2 writer refuses; a real Iceberg/V2 catalog takes
                # the writeTo path above.  Error TEXT is Spark-version-
                # fragile, so fall back on behavior: try the V1 writer
                # (its own failure propagates).  insertInto matches the
                # table's existing partitioning positionally.
                extracted.write.mode("append").insertInto(table)
        else:
            # partition by group so the per-group stats scan and any
            # downstream group predicate prune instead of full-scanning
            extracted.writeTo(table).using(provider) \
                .partitionedBy(F.col("group")).create()
        record = _group_record(
            spark.table(table).filter(F.col("group") == g),
            g, n_groups, t0, salt_buckets)
        processed.append(record)
    return {
        "processed": processed,
        "skipped_committed": sorted(done),
        "complete": expected <= committed_groups_table(spark, table),
    }


# ---------------------------------------------------------------------------
# Multi-format routed extraction: sniff → per-type extractor
# ---------------------------------------------------------------------------

ROUTED_SCHEMA = "url string, route string, ok boolean, text string"

_DECODED_ARROW = pa.schema([
    ("url", pa.string()), ("route", pa.string()), ("body", pa.string()),
])


def _decode_routed_batches(batches: Iterator[pa.RecordBatch]
                           ) -> Iterator[pa.RecordBatch]:
    """Charset-sniffed payload decode (WHATWG chain, errors=replace —
    hostile bytes yield U+FFFD, never a task failure) for the textual
    routes.  Arrow-batched; the same decode the HTML kernel runs."""
    for batch in batches:
        urls = batch.column("url").to_pylist()
        routes = batch.column("route").to_pylist()
        payloads = batch.column("payload").to_pylist()
        bodies = [decode_html(p if p is not None else b"")[0]
                  for p in payloads]
        yield pa.RecordBatch.from_arrays(
            [pa.array(urls, pa.string()), pa.array(routes, pa.string()),
             pa.array(bodies, pa.string())], schema=_DECODED_ARROW)


def extract_routed(pages: DataFrame, salt_buckets: int = 256,
                   partitions: Optional[int] = None) -> DataFrame:
    """Mixed-format corpus → text, routed per payload by MIME sniffing
    (:mod:`lexor_spark.mimesniff`): ``html_kernel`` rows run the full
    lexer→parser→converter→writer chain (`extract_pages`),
    ``pdf_text`` rows the PDF text layer (`extract_pdfs`),
    ``feed_parser`` rows the RSS/Atom entry extractor (entries
    re-serialized one ``title\\ttab\\tlink`` line each, document
    order), ``plain_text`` rows the charset-sniffed decode, and
    ``media_decode``/``skip`` rows pass through with NULL text —
    nothing in a 10^12-row crawl slice aborts the job.  Output is the
    uniform ``(url, route, ok, text)``.

    Input: ``(url string, payload binary, content_type string|NULL)``
    — exactly what a WARC/CDX fetch layer lands.

    Plan at scale: the route is a pure scan-side expression, so each
    branch is a filtered projection of the same columnar scan with the
    route predicate pushed down; branches reunite with a zero-shuffle
    ``unionByName``.  A production run materializes the routed frame
    once as a ``partitionBy(route)`` table so each extractor scan
    prunes to its own files — same plan, amortized scan.  The two
    kernel branches keep their own salted exchanges (giant-blob skew
    insurance); the decode branch reuses the identical salting."""
    from lexor_spark.mimesniff import dispatch_expr
    route = F.col("route")
    routed = pages.select(
        "url", "payload",
        dispatch_expr("payload", "content_type").alias("route"))

    html = routed.filter(route == "html_kernel") \
                 .select("url", F.col("payload").alias("html"))
    html_out = (extract_pages(html, salt_buckets, partitions)
                .select("url", F.lit("html_kernel").alias("route"),
                        "ok", "text"))

    from lexor_spark.pdfjob import extract_pdfs
    pdf = routed.filter(route == "pdf_text") \
                .select("url", F.col("payload").alias("pdf"))
    pdf_out = (extract_pdfs(pdf, salt_buckets, partitions)
               .select("url", F.lit("pdf_text").alias("route"),
                       "ok", "text"))

    sc = pages.sparkSession.sparkContext
    n_parts = partitions or sc.defaultParallelism * 4
    textual = (routed.filter(route.isin("plain_text", "feed_parser"))
               .repartition(n_parts, F.pmod(F.xxhash64("url"),
                                            F.lit(salt_buckets)))
               .mapInArrow(_decode_routed_batches,
                           "url string, route string, body string"))
    plain_out = (textual.filter(route == "plain_text")
                 .select("url", "route", F.lit(True).alias("ok"),
                         F.col("body").alias("text")))

    from lexor_spark.feeds import feed_entries
    feed_bodies = textual.filter(route == "feed_parser")
    entries = feed_entries(feed_bodies, body_col="body")
    feed_text = entries.groupBy("url").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct("entry_idx", "title", "link"))),
                lambda s: F.concat_ws("\t", s.title, s.link)),
            "\n").alias("text"))
    feed_out = (feed_bodies.select("url").join(feed_text, "url", "left")
                .select("url", F.lit("feed_parser").alias("route"),
                        F.lit(True).alias("ok"), "text"))

    rest_out = (routed.filter(route.isin("media_decode", "skip"))
                .select("url", "route", F.lit(True).alias("ok"),
                        F.lit(None).cast("string").alias("text")))

    return (html_out.unionByName(pdf_out).unionByName(plain_out)
            .unionByName(feed_out).unionByName(rest_out))
