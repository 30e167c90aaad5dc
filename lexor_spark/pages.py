"""Synthetic Common-Crawl-style pages table.

BASELINE.json ``input_hint`` fixes the input shape:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.
No external data is allowed, so this module derives a deterministic pages
table from the driver-provided ``documents.parquet`` (TESTDATA.md) using
**only built-in Spark SQL expressions** — generation is distributed,
seedless (pure function of ``doc_id``), and identical on every run, which
is what lets the serial-kernel oracle pin byte-identical outputs.

The generated HTML exercises every kernel rule (FIXTURES.md §4): boilerplate
shell (nav/header/footer/sidebar with boilerplate class tokens), four main-
content variants (<main>, <article>, div.content, div#main with a malformed
unclosed <p>), inline markup, entities, comments, doctype, a <script> blob
containing fake tags, and multi-byte UTF-8.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["pages_df", "encoded_pages_df", "materialized_pages",
           "PAGES_SCHEMA_HINT"]

PAGES_SCHEMA_HINT = "url string, warc_ts timestamp, html binary, text string, lang string"


def _lit(s: str) -> Column:
    return F.lit(s)


def _paragraphs() -> tuple[Column, Column, Column]:
    """Split the source text into three deterministic paragraphs."""
    n = F.length("text")
    third = (n / 3).cast("int")
    p1 = F.col("text").substr(F.lit(1), third)
    p2 = F.col("text").substr(third + 1, third)
    p3 = F.col("text").substr(third * 2 + 1, n)
    return p1, p2, p3


def _html_column() -> Column:
    """The page body as one Catalyst concat expression (JVM-side, no UDF)."""
    p1, p2, p3 = _paragraphs()
    title = F.concat(_lit("Doc "), F.col("doc_id").cast("string"),
                     _lit(" &amp; notes — site"))
    head = F.concat(
        _lit('<!doctype html>\n<html lang="'), F.col("lang"),
        _lit('">\n<head><title>'), title,
        _lit('</title>\n<meta name="description" content="synthetic page '),
        F.col("doc_id").cast("string"),
        _lit('">\n<link rel="stylesheet" href="/s.css"></head>\n'),
    )
    shell_top = F.concat(
        _lit('<body>\n<header class="site-header"><h1>Site '),
        F.pmod(F.col("doc_id"), F.lit(97)).cast("string"),
        _lit('</h1></header>\n<nav class="nav"><ul><li><a href="/">Home</a>'
             '<li><a href="/about">About »</a></ul></nav>\n'
             '<div class="sidebar"><h3>Ads</h3><p>buy things</p></div>\n'
             '<!-- layout: generated -->\n'),
    )
    body_core = F.concat(
        _lit("<h2>"), title, _lit("</h2>\n<p>"), p1,
        _lit(' &amp; <b>more</b> – café &#233;lève.</p>\n<p>'),
        p2, _lit('</p>\n<blockquote>quoted: '), p3,
        _lit("</blockquote>\n<ul><li>alpha<li>beta &lt;3</ul>\n"),
    )
    variant = F.pmod(F.col("doc_id"), F.lit(4))
    main_block = (
        F.when(variant == 0, F.concat(_lit("<main>\n"), body_core, _lit("</main>\n")))
        .when(variant == 1, F.concat(_lit("<article>\n"), body_core, _lit("</article>\n")))
        .when(variant == 2, F.concat(_lit('<div class="content">\n'), body_core, _lit("</div>\n")))
        # malformed variant: unclosed <p> inside div#main (tests W100/E100 path)
        .otherwise(F.concat(_lit('<div id="main">\n'), body_core,
                            _lit("<p>trailing unclosed paragraph\n</div>\n")))
    )
    shell_bottom = _lit(
        '<footer class="footer">© 2026 example</footer>\n'
        '<script>var x = "<p>not text</p>"; if (1 < 2) { x += "&amp;"; }</script>\n'
        "</body></html>\n"
    )
    return F.concat(head, shell_top, main_block, shell_bottom)


def pages_df(spark: SparkSession, sf_dir: str, repeat: int = 1,
             heavy_tail: bool = False) -> DataFrame:
    """Build the pages table from ``{sf_dir}/documents.parquet``.

    ``repeat`` > 1 tiles the corpus deterministically (distinct urls/ids)
    for benchmark sizing; all columns remain pure functions of
    ``(doc_id, rep)`` so any two runs — and any two parallelism levels —
    see identical bytes.

    ``heavy_tail`` gives ~1% of pages a ~150× body (FIXTURES.md §4's
    skew distribution) — the giant-blob case the url-hash repartition and
    the Arrow batch cap exist for."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if repeat > 1:
        reps = spark.range(repeat).withColumnRenamed("id", "rep")
        docs = docs.crossJoin(F.broadcast(reps)).withColumn(
            "doc_id", F.col("doc_id") + F.col("rep") * F.lit(1_000_000)
        )
    # documents.parquet is a single small file → a single scan task; without
    # this exchange the html-concat generation below would run serially and
    # cap scaling.  The shuffle moves only the narrow source columns; rows
    # are identical regardless of placement (pure function of doc_id).
    docs = docs.repartition(spark.sparkContext.defaultParallelism * 2, "doc_id")
    url = F.concat(
        _lit("https://site"), F.pmod(F.col("doc_id"), F.lit(97)).cast("string"),
        _lit(".example/"), F.col("source"), _lit("/p"),
        F.col("doc_id").cast("string"),
    )
    warc_ts = F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id") % F.lit(86_400 * 365))
    html = _html_column()
    if heavy_tail:
        # deterministic 1%-ish of doc_ids get a ~150x page body
        html = F.when(F.pmod("doc_id", F.lit(101)) == 0,
                      F.concat(html, F.repeat(html, 149))).otherwise(html)
    return docs.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.col("text").alias("text"),
        F.col("lang").alias("lang"),
    )


def encoded_pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-charset pages fixture for the charset-sniffing audit.

    Real Common-Crawl captures are 5-10% non-UTF-8; this derives a
    deterministic 7-variant encoding mix from ``documents.parquet``
    (variant = ``doc_id % 7``), built ENTIRELY from Catalyst expressions
    — ASCII shell via ``encode(…, 'UTF-8')``, non-ASCII codec marker
    bytes as ``unhex`` literals (Spark's ``encode`` only speaks
    ascii/latin-1/utf-8/16, so cp1251/shift_jis/gbk markers are spelled
    in hex):

    =======  ========================================  =================
    variant  page shape                                expected sniff
    =======  ========================================  =================
    0        ``<meta charset="utf-8">`` + UTF-8 café   utf-8 / meta
    1        ``<meta charset="windows-1251">`` + cp1251 Привет
                                                       windows-1251 / meta
    2        http-equiv Content-Type Shift_JIS + 語    shift_jis / meta
    3        unquoted ``<meta charset=gb2312>`` + 好   gbk / meta (label
                                                       gb2312 ⇒ gbk)
    4        UTF-8 BOM, no meta, UTF-8 é               utf-8-sig / bom
    5        no meta, lone 0xE9 byte (invalid UTF-8)   windows-1252 /
                                                       fallback
    6        pure-ASCII, no meta                       utf-8 / utf8-valid
    =======  ========================================  =================

    ``url`` carries ``doc_id`` (as a string) so the gate query joins the
    sniff result back to the variant rule; the DuckDB oracle recomputes
    the EXPECTED labels from ``doc_id % 7`` — the Spark side must earn
    them from the raw bytes."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    v = F.pmod(F.col("doc_id"), F.lit(7))
    ascii_body = F.regexp_replace(F.col("text"), r"[^\x20-\x7e]", "")
    b = lambda c: F.encode(c, "UTF-8")  # noqa: E731
    meta = (F.when(v == 0, _lit('<meta charset="utf-8">'))
            .when(v == 1, _lit('<meta charset="windows-1251">'))
            .when(v == 2, _lit('<meta http-equiv="Content-Type" '
                               'content="text/html; charset=Shift_JIS">'))
            .when(v == 3, _lit('<meta charset=gb2312>'))
            .otherwise(_lit("")))
    marker = (F.when(v == 0, F.unhex(_lit("636166c3a9")))      # café utf-8
              .when(v == 1, F.unhex(_lit("cff0e8e2e5f2")))     # Привет cp1251
              .when(v == 2, F.unhex(_lit("8cea")))             # 語 shift_jis
              .when(v == 3, F.unhex(_lit("bac3")))             # 好 gbk
              .when(v == 4, F.unhex(_lit("c3a9")))             # é utf-8
              .when(v == 5, F.unhex(_lit("e9")))               # é cp1252
              .otherwise(F.unhex(_lit(""))))
    bom = F.when(v == 4, F.unhex(_lit("efbbbf"))).otherwise(F.unhex(_lit("")))
    html = F.concat(
        bom,
        b(F.concat(_lit("<!doctype html>\n<html><head>"), meta,
                   _lit("<title>Doc "), F.col("doc_id").cast("string"),
                   _lit("</title></head>\n<body><p>"))),
        marker,
        b(F.concat(_lit(" "), ascii_body, _lit("</p></body></html>\n"))),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("url"),
        html.alias("html"),
    )


def materialized_pages(spark: SparkSession, sf_dir: str, repeat: int,
                       base_dir: str) -> DataFrame:
    """Write the pages table to parquet once and read it back.

    Benchmarks must time scan→salt→extract the way the production job sees
    it — reading a many-file Iceberg/parquet table — not the synthetic
    generation. Generation cost is paid once per (sf, repeat) and cached
    under ``base_dir``; the returned DataFrame scans the parquet files."""
    import os
    tag = f"pages_{os.path.basename(sf_dir.rstrip('/'))}_r{repeat}"
    path = os.path.join(base_dir, tag)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        pages_df(spark, sf_dir, repeat).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)
