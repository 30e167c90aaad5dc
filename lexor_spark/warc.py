"""WARC source: Common-Crawl shard files → the pages table.

The north-rule input is an Iceberg table of Common-Crawl-style pages
(url, warc_ts, html, …); this module covers the step *before* that
table exists — reading raw WARC shards (ISO 28500, the format Common
Crawl publishes) into exactly that schema, so the extraction job can run
straight off a crawl drop.

Spark-first shape
-----------------
``spark.read.format("binaryFile")`` gives one row per shard (Common
Crawl shards are ~1 GB, a natural task granule at 100 TB — a 100k-shard
crawl scans as 100k parallel tasks with no custom InputFormat), then a
``mapInPandas`` batch UDF splits each shard into records.  The UDF is
the only Python in the plan and is Arrow-batched; everything downstream
(extraction, dedup, quality) is the existing pipeline.  For
``.warc.gz`` shards the per-record gzip members concatenate into one
stream that :class:`gzip.GzipFile` walks transparently.

The record parser is pure stdlib (no warcio dependency — the sandbox
has none, and the format is simple enough that a clean-room parser is
~80 lines): records are ``WARC/1.x`` header blocks terminated by CRLF
CRLF with a ``Content-Length`` payload, each followed by CRLF CRLF.
``response`` records carry an HTTP response whose body is the page.
Transfer/content decoding beyond gzip members (chunked, brotli) is out
of scope and documented: Common Crawl stores payloads identity-coded.

No reference counterpart (the reference converts single documents,
SURVEY.md §2.3 scans/sources row); this is harness-side source surface.
"""

from __future__ import annotations

import gzip
import io
import json
from typing import Iterator, Optional

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import (BinaryType, StringType, StructField,
                               StructType, TimestampType)

from lexor_spark.content import extract_meta, meta_of_doc
from lexor_spark.graph import extract_links, links_of_doc
from lexor_spark.job import _on_dom, _page_udf, _salted_pages

__all__ = ["parse_warc", "warc_records", "read_warc", "build_warc",
           "build_wet", "wet_shards", "write_wet",
           "build_wat", "wat_shards", "wat_payload_df",
           "revisit_records", "revisit_records_sql",
           "warc_shards", "write_warc", "WARC_SCHEMA"]

WARC_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("warc_type", StringType()),
    StructField("content_type", StringType()),
    StructField("http_status", StringType()),
    StructField("html", BinaryType()),
])

_MAX_HEADER = 64 * 1024  # defensive bound on one header block


def _parse_headers(block: bytes) -> dict:
    """Parse a CRLF-separated header block into a lower-cased dict
    (first occurrence wins; continuation lines folded with a space).
    Values decode as UTF-8 with a Latin-1 fallback — ISO 28500 permits
    UTF-8 header values (IRI Target-URIs), while legacy shards may
    carry raw Latin-1 bytes."""
    def _dec(b: bytes) -> str:
        try:
            return b.decode("utf-8")
        except UnicodeDecodeError:
            return b.decode("latin-1")

    out: dict[str, str] = {}
    last: Optional[str] = None
    for line in block.split(b"\r\n"):
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and last is not None:
            out[last] += " " + _dec(line.strip())
            continue
        key, sep, val = line.partition(b":")
        if not sep:
            continue
        k = key.strip().decode("latin-1").lower()
        if k not in out:
            out[k] = _dec(val.strip())
            last = k
        else:
            # duplicate header: value discarded (first occurrence wins),
            # so its continuation lines must be dropped too — folding
            # them into the FIRST occurrence would corrupt it.
            last = None
    return out


def parse_warc(payload: bytes) -> Iterator[dict]:
    """Yield one dict per WARC record in ``payload`` (a whole shard,
    plain or gzip).  Keys: url, warc_ts (ISO string or None), warc_type,
    content_type, http_status, html (payload bytes after HTTP headers
    for response records; raw block payload otherwise).

    Malformed tails (truncated record, missing terminator) end the
    iteration instead of raising — a crawl shard's trailing garbage must
    not fail a 100 TB job's task."""
    if payload[:2] == b"\x1f\x8b":
        with gzip.GzipFile(fileobj=io.BytesIO(payload)) as fh:
            try:
                payload = fh.read()
            except (OSError, EOFError):
                return
    pos, n = 0, len(payload)
    while pos < n:
        # resync on the magic — tolerates inter-record junk
        start = payload.find(b"WARC/", pos)
        if start == -1:
            return
        head_end = payload.find(b"\r\n\r\n", start, start + _MAX_HEADER)
        if head_end == -1:
            return
        headers = _parse_headers(payload[start:head_end])
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            return
        body_start = head_end + 4
        body_end = body_start + clen
        if clen < 0 or body_end > n:
            return
        body = payload[body_start:body_end]
        wtype = headers.get("warc-type", "")
        status = None
        if wtype == "response" and body[:5] == b"HTTP/":
            http_end = body.find(b"\r\n\r\n")
            if http_end != -1:
                status_line = body[:body.find(b"\r\n")].decode(
                    "latin-1", "replace").split()
                status = status_line[1] if len(status_line) > 1 else None
                body = body[http_end + 4:]
        yield {
            "url": headers.get("warc-target-uri"),
            "warc_ts": headers.get("warc-date"),
            "warc_type": wtype,
            "content_type": headers.get("content-type"),
            "http_status": status,
            "html": body,
        }
        pos = body_end + 4  # skip the record's trailing CRLF CRLF


def warc_records(shards: DataFrame, responses_only: bool = True) -> DataFrame:
    """Split ``binaryFile`` rows (path, content, …) into WARC records.

    One task per shard — exactly the parallelism a 100k-shard crawl
    wants; no shuffle.  ``responses_only`` keeps the page-bearing
    ``response`` records (the 200-status filter is left to the caller:
    it is a plain pushed-down column predicate).

    WARC-Date values are UTC instants; Spark interprets tz-naive Arrow
    timestamps in the SESSION timezone, so the parsed datetimes are
    converted to the session timezone (captured at plan-build time)
    before being stripped naive — the stored instants are correct on
    any host/session offset, not just UTC sessions."""
    import pandas as pd  # local: executors import lazily

    session_tz = shards.sparkSession.conf.get(
        "spark.sql.session.timeZone", "UTC") or "UTC"

    def _split(batches):
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                for rec in parse_warc(bytes(content)):
                    if responses_only and rec["warc_type"] != "response":
                        continue
                    rows.append(rec)
            out = pd.DataFrame(
                rows, columns=[f.name for f in WARC_SCHEMA.fields])
            if len(out):
                out["warc_ts"] = pd.to_datetime(
                    out["warc_ts"], errors="coerce", utc=True
                ).dt.tz_convert(session_tz).dt.tz_localize(None)
            else:
                out["warc_ts"] = pd.Series([], dtype="datetime64[ns]")
            yield out

    return shards.select("path", "content").mapInPandas(_split, WARC_SCHEMA)


def read_warc(spark, path: str, responses_only: bool = True) -> DataFrame:
    """``spark.read.format('binaryFile')`` over ``path`` (dir or glob of
    ``.warc`` / ``.warc.gz``) → record rows in the pages-table shape."""
    shards = (spark.read.format("binaryFile")
              .option("pathGlobFilter", "*.warc*").load(path))
    return warc_records(shards, responses_only=responses_only)


_EPOCH = "1970-01-01T00:00:00Z"  # WARC-Date of records without a timestamp


def _records(warc_type: str, content_type: str, records,
             compress: bool) -> bytes:
    """Serialize (url, iso_ts, body_bytes) triples as WARC records of
    one type — the one record writer behind `build_warc`,
    `build_wet` and `build_wat`.  Headers are UTF-8 (ISO 28500 permits
    it): IRI urls with non-Latin characters are common in crawl data and
    must not fail the packing task.  Deterministic bytes; one gzip
    member per record (mtime pinned to 0) when ``compress``, the
    Common-Crawl layout."""
    out = []
    for url, ts, body in records:
        head = ("WARC/1.0\r\n"
                f"WARC-Type: {warc_type}\r\n"
                f"WARC-Target-URI: {url}\r\n"
                f"WARC-Date: {ts}\r\n"
                f"Content-Type: {content_type}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n").encode("utf-8")
        rec = head + body + b"\r\n\r\n"
        out.append(gzip.compress(rec, mtime=0) if compress else rec)
    return b"".join(out)


def build_warc(records: list[tuple[str, str, bytes]],
               compress: bool = False) -> bytes:
    """Serialize (url, iso_ts, html_bytes) triples into a valid WARC
    shard (response records wrapping an HTTP/1.1 200).  Test/benchmark
    generator — deterministic bytes, per-record gzip members when
    ``compress`` (the Common-Crawl layout)."""
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Length: %d\r\n\r\n")
    return _records("response", "application/http; msgtype=response",
                    ((url, ts, http % len(html) + html)
                     for url, ts, html in records), compress)


def _shards(df: DataFrame, url_col: str, payload, ts_col: Optional[str],
            shards: Optional[int], build, blob_col: str,
            compress: bool) -> DataFrame:
    """The one shard packer behind `warc_shards`, `wet_shards` and
    `wat_shards`: one row per shard, ``(shard, n_records, <blob_col>
    binary)``, the blob being ``build(records, compress=compress)`` over
    the shard's (url, iso_ts, payload) triples.

    Shared contract: rows without a url are dropped (WARC cannot
    address them; degrade, don't fail) and a missing ``ts_col`` or value
    reads as the epoch.  Shard membership is ``pmod(xxhash64(url),
    shards)``, so one shuffle on that key and one Arrow-batched
    grouped-map pandas task per shard.  Each shard is stable-sorted on
    the total key ``(url, ts, payload)``: re-fetches of one url never
    leave record order to shuffle arrival, so a re-run, a resume or a
    different input partitioning gives byte-identical shards.  Blobs as
    rows are the portable form at 100 TB: any sink can write them
    without executor filesystem access, and page bodies never land in
    driver memory (`write_warc` / `write_wet` materialize local
    files)."""
    import pandas as pd

    if shards is None:
        shards = df.sparkSession.sparkContext.defaultParallelism
    ts = (F.date_format(F.col(ts_col), "yyyy-MM-dd'T'HH:mm:ss'Z'")
          if ts_col else F.lit(_EPOCH))
    rows = (df.filter(F.col(url_col).isNotNull())
            .select(F.col(url_col).alias("url"), payload.alias("payload"),
                    F.coalesce(ts, F.lit(_EPOCH)).alias("ts"),
                    F.pmod(F.xxhash64(url_col), F.lit(shards))
                    .alias("shard")))

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["url", "ts", "payload"], kind="mergesort")
        blob = build(list(zip(pdf["url"], pdf["ts"], pdf["payload"])),
                     compress=compress)
        return pd.DataFrame({"shard": [int(pdf["shard"].iloc[0])],
                             "n_records": [len(pdf)],
                             blob_col: [blob]})

    return rows.groupBy("shard").applyInPandas(
        _pack, schema=f"shard long, n_records long, {blob_col} binary")


# --- WET output (the Common-Crawl round-trip's write side) -----------------

def build_wet(records: list[tuple[str, str, str]],
              compress: bool = True) -> bytes:
    """Serialize (url, iso_ts, text) triples as a WET shard — WARC
    ``conversion`` records with a ``text/plain`` payload, the layout
    Common Crawl publishes extracted text in (None text → empty)."""
    return _records("conversion", "text/plain",
                    ((url, ts, (text or "").encode("utf-8"))
                     for url, ts, text in records), compress)


def wet_shards(extracted: DataFrame, url_col: str = "url",
               text_col: str = "text", ts_col: str = None,
               shards: int = None, compress: bool = True) -> DataFrame:
    """Pack extracted text into WET shard blobs: one row per shard,
    ``(shard, n_records, wet binary)``; null text packs as empty.  See
    `_shards` for the distributed contract."""
    return _shards(extracted, url_col,
                   F.coalesce(F.col(text_col), F.lit("")), ts_col, shards,
                   build_wet, "wet", compress)


def warc_shards(pages: DataFrame, url_col: str = "url",
                html_col: str = "html", ts_col: str = "warc_ts",
                shards: int = None, compress: bool = True) -> DataFrame:
    """Pack a pages table into WARC response-shard blobs: one row per
    shard, ``(shard, n_records, warc binary)`` — the `wet_shards` shape
    on the INPUT side (response records wrapping HTTP 200 around the
    raw html bytes; rows with null html are dropped).  See `_shards`
    for the distributed contract."""
    return _shards(
        pages.filter(F.col(html_col).isNotNull()), url_col, F.col(html_col),
        ts_col, shards,
        lambda recs, compress: build_warc(
            [(url, ts, bytes(html)) for url, ts, html in recs], compress),
        "warc", compress)


def _write_shards(blobs: DataFrame, blob_col: str, output_dir: str,
                  stem: str, compress: bool) -> int:
    """Write each ``(shard, <blob_col>)`` row of ``blobs`` to
    ``output_dir/<stem % shard>[.gz]``; returns the shard count.  The
    rows reach the driver through ``toLocalIterator``: it holds one
    shuffle partition's shard blobs at a time, never the whole corpus."""
    import os

    os.makedirs(output_dir, exist_ok=True)
    n = 0
    for row in blobs.toLocalIterator():
        name = stem % row.shard + (".gz" if compress else "")
        with open(os.path.join(output_dir, name), "wb") as fh:
            fh.write(bytes(row[blob_col]))
        n += 1
    return n


def write_warc(pages: DataFrame, output_dir: str, **kwargs) -> int:
    """Materialize `warc_shards` as ``shard-NNNNN.warc(.gz)`` files under
    ``output_dir``; returns the shard count.  The driver holds one
    shuffle partition's shard blobs at a time (`_write_shards`), never
    row objects and never the whole corpus."""
    return _write_shards(warc_shards(pages, **kwargs), "warc", output_dir,
                         "shard-%05d.warc", kwargs.get("compress", True))


def write_wet(extracted: DataFrame, output_dir: str, **kwargs) -> int:
    """Materialize `wet_shards` as ``part-NNNNN.warc.wet(.gz)`` files
    under ``output_dir`` (named by shard id, so a re-run overwrites
    identically); returns the shard count.  The driver holds one shuffle
    partition's shard blobs at a time (`_write_shards`)."""
    return _write_shards(wet_shards(extracted, **kwargs), "wet", output_dir,
                         "part-%05d.warc.wet", kwargs.get("compress", True))


# --- WAT output (metadata sidecar: the third Common-Crawl artifact) --------

def build_wat(records: list[tuple[str, str, str]],
              compress: bool = True) -> bytes:
    """Serialize (url, iso_ts, json_payload) triples as a WAT shard —
    WARC ``metadata`` records with an ``application/json`` payload, the
    layout Common Crawl publishes page metadata (head metas, links) in.
    The payload is passed in pre-built so the caller controls key order
    (None → ``{}``)."""
    return _records("metadata", "application/json",
                    ((url, ts, (payload or "{}").encode("utf-8"))
                     for url, ts, payload in records), compress)


def wat_shards(meta: DataFrame, url_col: str = "url",
               payload_col: str = "wat_json", ts_col: str = None,
               shards: int = None, compress: bool = True) -> DataFrame:
    """Pack per-page metadata JSON into WAT shard blobs: one row per
    shard, ``(shard, n_records, wat binary)``; null payload packs as
    ``{}``.  See `_shards` for the distributed contract."""
    return _shards(meta, url_col,
                   F.coalesce(F.col(payload_col), F.lit("{}")), ts_col,
                   shards, build_wat, "wat", compress)


_WAT_ARROW = pa.schema([("url", pa.string()), ("wat_json", pa.string())])
_WAT_PAYLOAD_SCHEMA = from_arrow_schema(_WAT_ARROW)


def _wat_row(url: str, meta: dict, links: list) -> tuple:
    """One page's (url, wat_json) — mirrors to_json(struct(...))
    semantics: null fields omitted, field order fixed, links sorted
    (url, text)."""
    head = {k: v for k, v in (
        ("Title", meta.get("title")),
        ("Description", meta.get("description")),
        ("OG-Title", meta.get("og_title")),
        ("OG-Type", meta.get("og_type"))) if v is not None}
    link_objs = sorted(
        ({"url": a, "text": t} for _, a, t, _nf, _dp in links),
        key=lambda l: (l["url"], l["text"]))
    env = {"Envelope": {
        "WARC-Header-Metadata": {"WARC-Target-URI": url},
        "Payload-Metadata": {"HTML-Metadata": {
            "Head": head, "Links": link_objs}}}}
    return (url, json.dumps(env, ensure_ascii=False, separators=(",", ":")))


# Fused WAT kernel: ONE parse per page feeds both the head-metadata and
# the outlink extraction (the per-document logic is imported from
# `content.meta_of_doc` / `graph.links_of_doc` — same source of truth as
# the standalone operators), and the envelope is serialized in-kernel.
# Versus the compositional plan (two full parse passes + a corpus-sized
# url equi-join) this halves the dominant cost — the HTML parse — and
# deletes the join shuffle entirely; differential-pinned semantically
# identical by `tests/test_warc.py::test_wat_fused_matches_compositional`.
# A page that fails to parse gets the envelope with no metadata and no
# links.
_wat_payload_batches = _page_udf(_WAT_ARROW, _on_dom(
    lambda url, doc: [_wat_row(url, meta_of_doc(doc), links_of_doc(doc, url))],
    lambda url, _: [_wat_row(url, {}, [])]))


def wat_payload_df(pages: DataFrame, fused: bool = True) -> DataFrame:
    """(url, wat_json) per page: the Common-Crawl WAT envelope subset a
    downstream link/metadata consumer reads — head metadata plus
    sorted outlinks as a deterministic JSON document.

    Default path (``fused=True``): one exchange + mapInArrow kernel pass
    parses each page ONCE and emits the envelope directly — no second
    parse, no url join.  ``fused=False`` keeps the compositional plan
    (extract_meta ⋈ extract_links combined scan-side via ``to_json``)
    as the differential twin that pins the fused kernel's semantics."""
    if fused:
        salted = _salted_pages(pages)
        return salted.mapInArrow(_wat_payload_batches, _WAT_PAYLOAD_SCHEMA)

    meta = extract_meta(pages)
    links = (extract_links(pages)
             .groupBy("url")
             .agg(F.array_sort(F.collect_list(
                 F.struct(F.col("abs_url").alias("url"),
                          F.col("anchor").alias("text")))).alias("links")))
    j = meta.join(links, "url", "left")
    head = F.struct(
        F.col("title").alias("Title"),
        F.col("description").alias("Description"),
        F.col("og_title").alias("OG-Title"),
        F.col("og_type").alias("OG-Type"))
    env = F.struct(
        F.struct(F.col("url").alias("WARC-Target-URI")).alias(
            "WARC-Header-Metadata"),
        F.struct(F.struct(
            head.alias("Head"),
            F.coalesce(F.col("links"), F.array()).alias("Links"))
            .alias("HTML-Metadata")).alias("Payload-Metadata"))
    return j.select(
        "url", F.to_json(F.struct(env.alias("Envelope"))).alias("wat_json"))


# ---------------------------------------------------------------------------
# Revisit-record classification (digest-based capture dedup)
# ---------------------------------------------------------------------------

def revisit_records(captures: DataFrame) -> DataFrame:
    """Classify each capture of a (url, ts, digest) history as a full
    ``response`` record or a ``revisit`` record — the WARC-1.1 §6.7.2
    "identical payload digest" profile Heritrix/Common Crawl write at
    crawl time: when a re-fetch of a URL hashes to a payload digest
    already stored for that URL, the crawler stores a tiny revisit
    record pointing at the original capture instead of the payload.

    Per capture: ``is_revisit`` (an EARLIER capture of the same url
    carries the same digest) and ``refers_to_ts`` (the original
    capture's timestamp, NULL for response records).  ONE window over
    (url, digest) ordered by ts — key cardinality ~ captures, so no
    skewed single task; at 10^12 captures this is one shuffle on a
    well-spread compound key.  Deterministic → DuckDB mirror."""
    from pyspark.sql import Window
    w = Window.partitionBy("url", "digest").orderBy("ts")
    first_ts = F.first("ts").over(w)
    rn = F.row_number().over(w)
    return (captures.select(
        "url", "ts", "digest",
        (rn > 1).alias("is_revisit"),
        F.when(rn > 1, first_ts).alias("refers_to_ts"))
        .orderBy("url", "ts"))


def revisit_records_sql(captures_sql: str) -> str:
    """DuckDB mirror of :func:`revisit_records`."""
    return f"""
with c as ({captures_sql}),
w as (select url, ts, digest,
             row_number() over (partition by url, digest order by ts)
               as rn,
             first_value(ts) over (partition by url, digest order by ts)
               as fts
      from c)
select url, ts::timestamp as ts, digest, rn > 1 as is_revisit,
       (case when rn > 1 then fts end)::timestamp as refers_to_ts
from w order by url, ts
"""
