"""The Spark extraction job: pages table → extracted text/spans + metrics.

Architecture (SURVEY.md §7, BASELINE.json ``north_rule``):

* **Arrow-batched kernel execution** — the whole lexer→parser→converter→
  writer chain (the reference's processing chain,
  `/root/reference/lexor/__init__.py:52-101`) runs fused per document
  inside one ``mapInArrow`` UDF.  There is no per-row Python dispatch at
  the Spark layer: Spark hands the UDF whole Arrow record batches; the
  per-document loop lives inside the batch.
* **Url-hash repartitioning** — giant HTML blobs cluster by crawl order
  in real tables; ``repartition(P, "url")`` spreads them so no executor
  inherits a run of megabyte pages.  Pure column expression → the
  exchange is planned by Catalyst.
* **Per-partition metrics + lineage** — each output row carries its input
  size and kernel latency; `partition_metrics` folds them with a single
  map-side-combinable aggregation, which each group commit also observes
  on its write as the group's lineage record.
* **Checkpointed resume** — the corpus is processed in ``n_groups``
  url-hash groups; each group commits atomically (data files first, then a
  marker).  ``run_job`` skips committed groups, so a killed run restarts at
  the last commit.  On a real cluster the commit unit is an Iceberg
  snapshot append (``df.writeTo(tbl).append()``); this sandbox has no
  Iceberg runtime, so the fallback is a parquet dir per group + a
  ``_lineage/group-<g>.json`` marker — same atomicity contract, same
  resume logic.

**Adding a page operator.**  Declare the output once as a ``pa.schema``
(the public Spark schema is ``from_arrow_schema`` of it).  Write the
per-page body: ``per_page(url, payload)`` returning that page's complete
rows as tuples in schema order — or, for a body that walks the parsed
DOM, ``_on_dom(fn, on_error)`` around ``fn(url, doc)``.  The operator is
``_salted_pages(pages, ...).mapInArrow(_page_udf(schema, per_page), ...)``:
``_page_udf`` owns the GC switch, the column reads and the batch build,
so no operator repeats them.
"""

from __future__ import annotations

import gc
import json
import os
import time
from bisect import bisect_left
from typing import Iterator, Optional

import pyarrow as pa
from pyspark.errors import AnalysisException, SparkRuntimeException
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from lexor_spark.kernel.dom import CharacterData, Element, dispose
from lexor_spark.kernel.encoding import decode_html
from lexor_spark.kernel.htmlparser import parse_html
from lexor_spark.kernel.pipeline import extract_document

__all__ = [
    "OUTPUT_SCHEMA", "NODES_SCHEMA", "extract_pages", "export_nodes", "extract_density_pages",
    "partition_metrics", "run_job", "committed_groups", "read_lineage",
    "run_job_table", "committed_groups_table",
    "css_select", "css_rewrite", "normalize_html", "convert_markdown",
]

# Output schema of the extraction stage.
# ``n_chars_in`` counts the input html in *bytes* (before charset
# decoding), ``n_chars_out`` the output text in characters; the column
# keeps its historical name.
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
    ("n_chars_in", pa.int64()),  # input html bytes, see above
    ("n_chars_out", pa.int64()),
    ("kernel_us", pa.int64()),
])
OUTPUT_SCHEMA = from_arrow_schema(_ARROW_SCHEMA)


def _salted_pages(pages: DataFrame, _unused: object = None,
                  partitions: Optional[int] = None,
                  slots_mult: int = 4,
                  cols: tuple[str, ...] = ("url", "html")) -> DataFrame:
    """The shared scan-side preamble of every kernel job: column-prune
    to ``cols`` (url and the payload) BEFORE the exchange (the shuffle
    moves only what the kernel needs), then one repartition on the url
    itself.  The key is the url and never a function of the ``run_job``
    group hash, so one group's pages still spread over every partition.
    Fine-grained tasks (``slots_mult``× slots) hide per-task tail
    latency: a giant document delays one small task, not 1/cores of the
    corpus (slot sweep in BENCH/BASELINE.md).

    The second parameter is ignored; it is kept only so the benchmark
    ladder's positional call ``_salted_pages(pages, 256, None)``
    (``perfbench/ledger.py``) still resolves."""
    sc = pages.sparkSession.sparkContext
    if partitions is None:
        partitions = sc.defaultParallelism * slots_mult
    return pages.select(*cols).repartition(partitions, "url")


def _page_udf(schema: pa.Schema, per_page):
    """The ``mapInArrow`` function of a per-page operator — the one
    engine↔UDF boundary every page kernel shares.

    For each input batch it reads every column with ``to_pylist`` (the
    scan side selects ``url`` and the payload, plus any column the body
    needs), calls ``per_page(url, payload, ...)`` with one row's values
    — it returns that page's complete output rows as tuples in
    ``schema`` order — and builds one output batch of ``schema`` column
    by column from the rows.

    The cyclic GC is off while the batches run: DOM trees are
    explicitly cycle-broken by the kernel (``dom.dispose``) so
    everything frees by refcount, and turning the collector off removes
    its cache-thrashing scans — measured ~+50% throughput at 32
    workers.  Save/restore, not a blind enable: the outer task context
    may itself run with the collector off."""
    types = [field.type for field in schema]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            for batch in batches:
                rows: list[tuple] = []
                for row in zip(*(c.to_pylist() for c in batch.columns)):
                    rows += per_page(*row)
                cols = list(zip(*rows)) or [()] * len(types)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(col, type=t) for col, t in zip(cols, types)],
                    schema=schema)
        finally:
            if gc_was_enabled:
                gc.enable()
    return run


def _on_dom(fn, on_error=None):
    """``per_page`` for an operator body that works on the parsed DOM:
    decode → ``parse_html`` → ``fn(url, doc)``, which returns the page's
    rows.  The tree is disposed on every path (with the cyclic GC off,
    an undisposed tree never frees).  Any exception returns
    ``on_error(url, payload)`` instead — by default no rows — so a
    hostile page is data, never a task failure, and a page's rows
    appear only when all of them were built."""
    def per_page(url, payload):
        doc = None
        try:
            doc, _ = parse_html(decode_html(payload or b"")[0], url)
            return fn(url, doc)
        except Exception:
            return on_error(url, payload) if on_error else []
        finally:
            if doc is not None:
                dispose(doc)
    return per_page


def _extract_batches_wrapped(width: Optional[int], indent: str,
                             style: Optional[str] = None):
    """Batch-UDF factory for the extraction kernel; ``(None, "")`` is
    the default raw-output path.

    ``style`` names a W2 writer-rule registry (`kernel/styles.py`),
    resolved worker-side so only the string crosses the closure.
    ``kernel_us`` times the ``extract_document`` call alone."""
    def per_page(url, html):
        t0 = time.perf_counter_ns()
        res = extract_document(html if html is not None else b"", url,
                               width, indent, style)
        dt_us = (time.perf_counter_ns() - t0) // 1000
        return [(url, res.text, res.spans, res.title, res.description,
                 res.lang_attr, res.codes, res.n_nodes, res.truncated,
                 res.ok, res.err, len(html) if html is not None else 0,
                 len(res.text), dt_us)]
    return _page_udf(_ARROW_SCHEMA, per_page)


# the default-mode batch function; ``_extract_batches_inner`` is the
# name perfbench's stage tracer times
_extract_batches_inner = _extract_batches_wrapped(None, "")


def extract_pages(pages: DataFrame, partitions: Optional[int] = None,
                  width: Optional[int] = None,
                  indent: str = "",
                  style: Optional[str] = None) -> DataFrame:
    """pages (url, html, ...) → extraction output DataFrame.

    Column-prunes to (url, html) *before* the exchange so the shuffle
    moves only what the kernel needs; the url key is a plain column so
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
    return _salted_pages(pages, partitions=partitions).mapInArrow(
        _extract_batches_wrapped(width, indent, style), OUTPUT_SCHEMA)


def _metrics_aggs(count_as: str) -> list[Column]:
    """The seven aggregates of extraction output that both
    `partition_metrics` and the lineage record report; the row count is
    named ``count_as``."""
    return [
        F.count("*").alias(count_as),
        F.sum("n_chars_in").alias("bytes_in"),
        F.sum("n_chars_out").alias("chars_out"),
        F.sum("kernel_us").alias("kernel_us_total"),
        F.max("kernel_us").alias("kernel_us_max"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("n_errors"),
        F.sum(F.when(F.col("truncated"), 1).otherwise(0)).alias("n_truncated"),
    ]


def partition_metrics(extracted: DataFrame) -> DataFrame:
    """Per-partition skew/latency metrics (one map-side-combinable agg)."""
    return (extracted
            .groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(*_metrics_aggs("n_docs")))


# ---------------------------------------------------------------------------
# DOM flatten-export (SURVEY.md §1.3): the node tree as a corpus-level table
# ---------------------------------------------------------------------------

_NODES_ARROW = pa.schema([
    ("url", pa.string()), ("node_id", pa.int32()), ("parent_id", pa.int32()),
    ("name", pa.string()), ("kind", pa.string()), ("n_attrs", pa.int32()),
    ("class", pa.string()), ("id", pa.string()),
    ("data_prefix", pa.string()), ("line", pa.int32()), ("col", pa.int32()),
])
NODES_SCHEMA = from_arrow_schema(_NODES_ARROW)


def _node_rows(url: str, doc, text: str) -> list[tuple]:
    # node.pos is a source offset; derive (line, col) in bulk from one
    # newline index per document
    nls = [k for k, ch in enumerate(text) if ch == "\n"]

    def _lc(off: int) -> tuple[int, int]:
        if off < 0:
            return (0, 0)
        idx = bisect_left(nls, off)
        prev = nls[idx - 1] if idx else -1
        return (idx + 1, off - prev)
    # preorder DFS ⇒ a parent is always numbered before its children;
    # node_id = visit order
    ids: dict[int, int] = {}
    rows = []
    for nid, node in enumerate(doc.iter()):
        ids[id(node)] = nid
        parent = node.parent
        is_el = isinstance(node, Element)
        data = node.data if isinstance(node, CharacterData) else None
        rows.append((url, nid, ids[id(parent)] if parent is not None else -1,
                     node.name, type(node).__name__,
                     len(node.attrs) if is_el else 0,
                     node.attrs.get("class") if is_el else None,
                     node.attrs.get("id") if is_el else None,
                     data[:64] if data else None, *_lc(node.pos)))
    return rows


def _nodes_page(url, html):
    # decoded once here: the rows need the source text for (line, col)
    text = decode_html(html or b"")[0]
    return _on_dom(lambda u, doc: _node_rows(u, doc, text))(url, text)


_flatten_batches = _page_udf(_NODES_ARROW, _nodes_page)


def export_nodes(pages: DataFrame,
                 partitions: Optional[int] = None) -> DataFrame:
    """Flatten every page's DOM into one corpus-level node table
    (url, node_id, parent_id, name, kind, attrs summary, pos) — the
    §1.3 export that lets tag/class queries run as DataFrame filters."""
    salted = _salted_pages(pages, partitions=partitions, slots_mult=8)
    return salted.mapInArrow(_flatten_batches, NODES_SCHEMA)


# ---------------------------------------------------------------------------
# HTML normalization (parse → serialize: the reference's writer path)
# ---------------------------------------------------------------------------

_NORM_ARROW = pa.schema([
    ("url", pa.string()), ("norm_html", pa.string()),
    ("n_in", pa.int64()), ("n_out", pa.int64()),
])
NORMALIZE_SCHEMA = from_arrow_schema(_NORM_ARROW)


def _normalize_page(url, html):
    from lexor_spark.kernel.htmlwriter import write_html
    n_in = len(html or b"")

    def rows(url, doc):
        norm = write_html(doc)
        return [(url, norm, n_in, len(norm))]
    return _on_dom(rows, lambda url, _: [(url, "", n_in, 0)])(url, html)


_normalize_batches = _page_udf(_NORM_ARROW, _normalize_page)


def normalize_html(pages: DataFrame,
                   partitions: Optional[int] = None) -> DataFrame:
    """parse→serialize normal form per page (idempotent; the writer-path
    operator a markup→markup converter user needs)."""
    salted = _salted_pages(pages, partitions=partitions)
    return salted.mapInArrow(_normalize_batches, NORMALIZE_SCHEMA)


# ---------------------------------------------------------------------------
# Corpus-level CSS selection (reference selector.py S1-S4, Spark-side)
# ---------------------------------------------------------------------------

_CSS_ARROW = pa.schema([
    ("url", pa.string()), ("selector", pa.string()),
    ("n_matches", pa.int32()), ("first_text", pa.string()),
])
CSS_SCHEMA = from_arrow_schema(_CSS_ARROW)


def _css_batches(selectors: list[str]):
    """Batch UDF factory: parse each page once, evaluate every selector
    against the same tree (amortizes the parse — the dominant cost —
    across the selector list).  A page that fails yields one zero row
    per selector."""
    from lexor_spark.kernel.selector import query

    def rows(url, doc):
        out = []
        for sel in selectors:
            found = query(doc, sel)
            out.append((url, sel, len(found),
                        found[0].text_content().strip()[:128]
                        if found else None))
        return out
    return _page_udf(_CSS_ARROW, _on_dom(
        rows, lambda url, _: [(url, sel, 0, None) for sel in selectors]))


def css_select(pages: DataFrame, selectors: list[str],
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
    salted = _salted_pages(pages, partitions=partitions)
    return salted.mapInArrow(_css_batches(selectors), CSS_SCHEMA)


_REWRITE_ARROW = pa.schema([
    ("url", pa.string()), ("html_out", pa.string()),
    ("n_removed", pa.int32()), ("n_in", pa.int64()), ("n_out", pa.int64()),
])
REWRITE_SCHEMA = from_arrow_schema(_REWRITE_ARROW)


def _rewrite_batches(selectors: list[str]):
    """Batch UDF factory for `css_rewrite`: parse → Selector.remove()
    per probe → re-serialize."""
    from lexor_spark.kernel.htmlwriter import write_html
    from lexor_spark.kernel.selector import Selector

    def per_page(url, html):
        n_in = len(html or b"")

        def rows(url, doc):
            n_removed = 0
            for sel in selectors:
                hit = Selector(sel, doc)
                n_removed += len(hit)
                hit.remove()
            out = write_html(doc)
            return [(url, out, n_removed, n_in, len(out))]
        return _on_dom(rows, lambda url, _: [(url, "", 0, n_in, 0)])(url, html)
    return _page_udf(_REWRITE_ARROW, per_page)


def css_rewrite(pages: DataFrame, remove_selectors: list[str],
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
    salted = _salted_pages(pages, partitions=partitions)
    return salted.mapInArrow(_rewrite_batches(remove_selectors),
                             REWRITE_SCHEMA)


# ---------------------------------------------------------------------------
# HTML → Markdown conversion (the reference's flagship target)
# ---------------------------------------------------------------------------

_MD_ARROW = pa.schema([
    ("url", pa.string()), ("markdown", pa.string()),
    ("n_chars", pa.int64()), ("ok", pa.bool_()),
])
MARKDOWN_SCHEMA = from_arrow_schema(_MD_ARROW)


def _markdown_rows(url, doc):
    from lexor_spark.kernel.mdwriter import write_markdown
    text = write_markdown(doc)
    return [(url, text, len(text), True)]


_markdown_batches = _page_udf(_MD_ARROW, _on_dom(
    _markdown_rows, lambda url, _: [(url, "", 0, False)]))


def convert_markdown(pages: DataFrame,
                     partitions: Optional[int] = None) -> DataFrame:
    """html → markdown per page (`lexor file.html to markdown` at corpus
    scale), url-hash repartitioned + Arrow-batched like every kernel job."""
    salted = _salted_pages(pages, partitions=partitions)
    return salted.mapInArrow(_markdown_batches, MARKDOWN_SCHEMA)


_CHARSET_ARROW = pa.schema([
    ("url", pa.string()), ("encoding", pa.string()), ("source", pa.string()),
    ("n_chars", pa.int32()), ("decoded_prefix", pa.string()),
])
CHARSET_SCHEMA = from_arrow_schema(_CHARSET_ARROW)


def _charset_page(url, html):
    text, codec, source = decode_html(html or b"")
    return [(url, codec, source, len(text), text[:2000])]


_charset_batches = _page_udf(_CHARSET_ARROW, _charset_page)


def sniff_charsets(pages: DataFrame,
                   partitions: Optional[int] = None) -> DataFrame:
    """Per-page charset sniff + decode audit over an (url, html binary)
    table — WHATWG BOM/meta-prescan/UTF-8-validation/windows-1252 chain
    (`kernel/encoding.py`; the reference kernel takes pre-decoded text,
    so byte-level detection is pipeline-side by design).  Emits the
    chosen codec, the DECISION SOURCE (bom/meta/utf8-valid/fallback) for
    corpus encoding telemetry, and a decoded prefix so callers can
    verify content survived (the `charset_sniff` gate query checks a
    per-variant marker downstream as a plain Catalyst expression).
    Scan-side projection + the same url-hash exchange as extraction; one
    fused mapInArrow pass, no per-row Python."""
    salted = _salted_pages(pages, partitions=partitions)
    return salted.mapInArrow(_charset_batches, CHARSET_SCHEMA)


# ---------------------------------------------------------------------------
# Density-based extraction (the second extractor) and cross-extractor QA
# ---------------------------------------------------------------------------

_DENSITY_ARROW = pa.schema([
    ("url", pa.string()), ("text", pa.string()),
    ("n_blocks", pa.int32()), ("n_good", pa.int32()),
    ("ok", pa.bool_()),
])
DENSITY_SCHEMA = from_arrow_schema(_DENSITY_ARROW)


def _density_page(url, html):
    from lexor_spark.kernel.density import extract_density
    try:
        r = extract_density(html or b"", url)
    except Exception:
        return [(url, "", 0, 0, False)]
    return [(url, r.text, r.n_blocks, r.n_good, True)]


_density_batches = _page_udf(_DENSITY_ARROW, _density_page)


def extract_density_pages(pages: DataFrame,
                          partitions: Optional[int] = None) -> DataFrame:
    """jusText-style density-based main-content extraction, corpus-wide
    (`kernel/density.py`: block segmentation -> link/stop-word-density
    classification -> neighbour revision).  The DOM-heuristic SECOND
    extractor next to the rule-driven converter (`extract_pages`) — a
    quality pipeline diffs the two to find pages where tag structure
    and text statistics disagree.  Same fused exchange + mapInArrow plan,
    map-only at 10^12 pages; hostile bytes yield ok=false rows, never
    task failures."""
    salted = _salted_pages(pages, partitions=partitions)
    return salted.mapInArrow(_density_batches, DENSITY_SCHEMA)


def extractor_diff(pages: DataFrame, lo_f1: float = 0.5,
                   hi_f1: float = 0.8,
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

    Scale shape: two map-only kernel passes over the same scan,
    one (url, token)-keyed partial-agg join (hot tokens spread by the
    url key), then a urls-sized left join; nothing corpus-sized ever
    sits in one task."""
    from lexor_spark.evals import eval_extraction

    kern = extract_pages(pages, partitions=partitions) \
        .select("url", "text")
    dens = extract_density_pages(pages, partitions=partitions) \
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

    kern = (extract_pages(pages, partitions=partitions)
            .select("url", F.col("text").alias("k_text"))
            .localCheckpoint(eager=True))
    dens = (extract_density_pages(pages, partitions=partitions)
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


# ---------------------------------------------------------------------------
# Checkpointed, resumable run
# ---------------------------------------------------------------------------

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
                  "n_errors long, n_truncated long, wall_s double")


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
    if not committed_groups(output_dir):
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    return (spark.read.schema(LINEAGE_SCHEMA)
            .json(os.path.join(output_dir, "_lineage", "group-*.json")))


def _group_record(obs: Observation, g: int, n_groups: int,
                  t0: float) -> dict:
    """One committed group's lineage record: `_metrics_aggs` as ``obs``
    saw them on the write (no read-back); ``wall_s`` ends as it returns."""
    stats = obs.get
    return {
        "group": g,
        "n_groups": n_groups,
        "n_rows": stats.pop("n_rows"),
        **{k: int(v or 0) for k, v in stats.items()},
        "wall_s": round(time.time() - t0, 3),
    }


def _commit_groups(pages: DataFrame, n_groups: int, work, committed,
                   write, seal, partitions: Optional[int],
                   max_groups: Optional[int]) -> dict:
    """The commit loop of `run_job` and `run_job_table`: for each group
    of ``work`` not in ``committed()``, at most ``max_groups`` of them,
    extract its pages, ``write(g, extracted)`` with `_metrics_aggs`
    observed on it — one Spark job, and a retried task counts once — and
    ``seal(g, record)`` the lineage record built from them.  The group
    filter runs before the exchange, so it is scan-side."""
    done = committed()
    group_col = F.pmod(F.xxhash64("url"), F.lit(n_groups))
    processed: list[dict] = []
    for g in work:
        if g in done:
            continue
        if max_groups is not None and len(processed) >= max_groups:
            break
        t0 = time.time()
        obs = Observation()
        extracted = extract_pages(pages.filter(group_col == g),
                                  partitions=partitions)
        write(g, extracted.observe(obs, *_metrics_aggs("n_rows")))
        record = _group_record(obs, g, n_groups, t0)
        seal(g, record)
        processed.append(record)
    return {
        "processed": processed,
        "skipped_committed": sorted(done),
        "complete": set(work) <= committed(),
    }


def run_job(spark: SparkSession, pages: DataFrame, output_dir: str,
            n_groups: int = 8, partitions: Optional[int] = None,
            max_groups: Optional[int] = None) -> dict:
    """Process ``pages`` in url-hash groups with commit-per-group: each
    group is a parquet dir, sealed by its lineage marker.  ``max_groups``
    caps the new groups this call processes (how tests simulate a kill).
    Returns a lineage summary dict."""
    os.makedirs(os.path.join(output_dir, "_lineage"), exist_ok=True)

    def write(g: int, extracted: DataFrame) -> None:
        extracted.write.mode("overwrite").parquet(
            os.path.join(output_dir, f"group={g}"))

    def seal(g: int, record: dict) -> None:
        # marker write is the commit point: data is fully on disk first
        marker = os.path.join(output_dir, "_lineage", f"group-{g}.json")
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(record, fh)
        os.replace(tmp, marker)

    return _commit_groups(pages, n_groups, range(n_groups),
                          lambda: committed_groups(output_dir), write, seal,
                          partitions, max_groups)


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


# "Cannot write into v1 table": the V2 writer's refusal of a session-
# catalog (V1) table
_V1_TABLE_WRITE_REFUSED = "_LEGACY_ERROR_TEMP_1012"
# a managed table's location exists but the catalog has no such table
_STALE_LOCATION = "LOCATION_ALREADY_EXISTS"


def run_job_table(spark: SparkSession, pages: DataFrame, table: str,
                  n_groups: int = 8, partitions: Optional[int] = None,
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
    local-mode default).  Returns the same observed lineage summary.

    Committed-ness is derived from data rows, so the work list is the
    set of NON-EMPTY groups (one cheap distinct over the url-hash
    column) — a group no url hashes to can never be pending forever."""
    group_col = F.pmod(F.xxhash64("url"), F.lit(n_groups))
    expected = sorted({int(r["g"]) for r in
                       pages.select(group_col.alias("g")).distinct().collect()})

    def write(g: int, extracted: DataFrame) -> None:
        extracted = extracted.withColumn("group", F.lit(g))
        if not spark.catalog.tableExists(table):
            _create_table(spark, extracted, table, provider)
        else:
            try:
                extracted.writeTo(table).append()
            except AnalysisException as exc:
                # the session catalog serves V1 tables, which the V2
                # writer refuses with this error class; a real Iceberg/V2
                # catalog takes the writeTo path above.  Any other error
                # propagates.  insertInto matches the table's existing
                # partitioning positionally.
                if exc.getCondition() != _V1_TABLE_WRITE_REFUSED:
                    raise
                extracted.write.mode("append").insertInto(table)

    # the append is the commit: nothing to seal
    return _commit_groups(pages, n_groups, expected,
                          lambda: committed_groups_table(spark, table),
                          write, lambda g, record: None,
                          partitions, max_groups)


def _create_table(spark: SparkSession, extracted: DataFrame, table: str,
                  provider: str) -> None:
    """First append = table create, partitioned by group so any
    downstream group predicate prunes instead of full-scanning.  A run
    killed in the middle of a create leaves the managed location on disk
    with no catalog entry, and Spark then refuses the create with
    ``LOCATION_ALREADY_EXISTS``.  Nothing there is committed (the
    committed set is read through the catalog), so that location is
    cleared and the create retried once; any other error propagates."""
    def create() -> None:
        extracted.writeTo(table).using(provider) \
            .partitionedBy(F.col("group")).create()
    try:
        create()
    except SparkRuntimeException as exc:
        if (exc.getCondition() != _STALE_LOCATION
                or spark.catalog.tableExists(table)):
            raise
        jvm = spark.sparkContext._jvm
        loc = jvm.org.apache.hadoop.fs.Path(
            exc.getMessageParameters()["location"].strip("'"))
        loc.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()) \
            .delete(loc, True)
        create()


# ---------------------------------------------------------------------------
# Multi-format routed extraction: sniff → per-type extractor
# ---------------------------------------------------------------------------

_DECODED_ARROW = pa.schema([
    ("url", pa.string()), ("route", pa.string()), ("body", pa.string()),
])


def extract_routed(pages: DataFrame,
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
    kernel branches keep their own url-hash exchanges (giant-blob skew
    insurance); the decode branch repartitions the same way."""
    from lexor_spark.mimesniff import dispatch_expr
    route = F.col("route")
    routed = pages.select(
        "url", "payload",
        dispatch_expr("payload", "content_type").alias("route"))

    html = routed.filter(route == "html_kernel") \
                 .select("url", F.col("payload").alias("html"))
    html_out = (extract_pages(html, partitions=partitions)
                .select("url", F.lit("html_kernel").alias("route"),
                        "ok", "text"))

    from lexor_spark.pdfjob import extract_pdfs
    pdf = routed.filter(route == "pdf_text") \
                .select("url", F.col("payload").alias("pdf"))
    pdf_out = (extract_pdfs(pdf, partitions=partitions)
               .select("url", F.lit("pdf_text").alias("route"),
                       "ok", "text"))

    # the HTML kernel's charset-sniffed decode (WHATWG chain,
    # errors=replace: hostile bytes yield U+FFFD, never a task failure)
    decode = _page_udf(_DECODED_ARROW, lambda url, payload, route: [
        (url, route, decode_html(payload or b"")[0])])
    textual = (_salted_pages(
        routed.filter(route.isin("plain_text", "feed_parser")),
        partitions=partitions, cols=("url", "payload", "route"))
        .mapInArrow(decode, from_arrow_schema(_DECODED_ARROW)))
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
