"""Structured content extraction from pages: HTML tables and head
metadata (title / description / Open Graph / Twitter cards).

Two corpus-level passes over the (url, html binary) pages table, both
the same fused plan shape as `job.extract_pages` (scan-side projection
-> url-hash exchange -> one mapInArrow kernel pass, zero per-row Python):

* :func:`extract_tables` — one output row per ``<td>``/``<th>`` cell,
  with (table_idx, row_idx, col_idx) document-order coordinates, header
  flag, and colspan/rowspan.  The raw material of table-QA / table-
  grounding training corpora (and of structured-data mining generally);
  nested tables are emitted as their OWN table_idx and skipped in the
  outer table's walk, so every cell appears exactly once.
* :func:`extract_meta` — one output row per page with the first
  ``<title>`` text (entities decoded, whitespace-normalized) and the
  standard social/head metadata (description, og:title/description/
  image/type, twitter:card), first-wins per key like real crawlers.

The reference kernel is a single-document converter with no tabular or
metadata surface (reference ``lexor/command/to.py`` drives text/html
targets only); these are corpus-pipeline operators built on the same
parse.  At 10^12 pages both passes add zero shuffles beyond the url-hash
exchange every kernel pass shares.
"""

from __future__ import annotations

import html as _htmllib
from typing import Optional

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from lexor_spark.job import _on_dom, _page_udf, _salted_pages

__all__ = ["extract_tables", "extract_meta", "extract_jsonld",
           "extract_microdata", "extract_rdfa", "extract_outline",
           "extract_images",
           "srcset_candidates", "srcset_candidates_sql",
           "TABLES_SCHEMA", "META_SCHEMA", "JSONLD_SCHEMA",
           "MICRODATA_SCHEMA", "RDFA_SCHEMA", "OUTLINE_SCHEMA",
           "IMAGES_SCHEMA"]

_TABLES_ARROW = pa.schema([
    ("url", pa.string()), ("table_idx", pa.int32()),
    ("row_idx", pa.int32()), ("col_idx", pa.int32()),
    ("is_header", pa.bool_()), ("colspan", pa.int32()),
    ("rowspan", pa.int32()), ("cell", pa.string()),
])
TABLES_SCHEMA = from_arrow_schema(_TABLES_ARROW)

_META_ARROW = pa.schema([
    ("url", pa.string()), ("title", pa.string()),
    ("description", pa.string()), ("og_title", pa.string()),
    ("og_description", pa.string()), ("og_image", pa.string()),
    ("og_type", pa.string()), ("twitter_card", pa.string()),
])
META_SCHEMA = from_arrow_schema(_META_ARROW)


def _node_text(el, *, skip_tables: bool = False) -> str:
    """Whitespace-normalized descendant text with entities decoded
    (same contract as graph._anchor_text); optionally skip descent
    into nested <table> subtrees (their cells are their own rows)."""
    from lexor_spark.kernel.dom import Entity, Text
    parts: list[str] = []
    stack = list(reversed(el.children))
    while stack:
        nd = stack.pop()
        cls = type(nd)
        if cls is Text:
            parts.append(nd.data)
        elif cls is Entity:
            parts.append(_htmllib.unescape(nd.data))
        else:
            if skip_tables and nd.name == "table":
                continue
            kids = getattr(nd, "children", None)
            if kids:
                stack.extend(reversed(kids))
    return " ".join("".join(parts).split())


def _int_attr(attrs, key: str, default: int = 1) -> int:
    raw = (attrs or {}).get(key)
    if raw is None:
        return default
    try:
        v = int(str(raw).strip())
    except ValueError:
        return default
    return v if v >= 1 else default


def _table_rows(table) -> list:
    """The table's OWN <tr> elements in document order, not descending
    into nested tables (each nested table is walked separately)."""
    rows = []
    stack = list(reversed(table.children))
    while stack:
        nd = stack.pop()
        if nd.name == "table":
            continue
        if nd.name == "tr":
            rows.append(nd)
            continue  # a tr never nests another tr of the same table
        kids = getattr(nd, "children", None)
        if kids:
            stack.extend(reversed(kids))
    return rows


def _cells_of(tr) -> list:
    cells = []
    for nd in tr.children:
        if nd.name in ("td", "th"):
            cells.append(nd)
    return cells


def _table_cells(url, doc) -> list[tuple]:
    rows = []
    for t_idx, table in enumerate(doc.get_nodes_by_name("table")):
        for r_idx, tr in enumerate(_table_rows(table)):
            for c_idx, cell in enumerate(_cells_of(tr)):
                a = cell.attrs or {}
                rows.append((url, t_idx, r_idx, c_idx, cell.name == "th",
                             _int_attr(a, "colspan"), _int_attr(a, "rowspan"),
                             _node_text(cell, skip_tables=True)))
    return rows


_tables_batches = _page_udf(_TABLES_ARROW, _on_dom(_table_cells))


def extract_tables(pages: DataFrame,
                   partitions: Optional[int] = None) -> DataFrame:
    """One row per table cell, corpus-wide: (url, table_idx, row_idx,
    col_idx, is_header, colspan, rowspan, cell).  Coordinates are
    document-order (tables by first-appearance including nested ones;
    rows are the table's own <tr>s wherever they sit — thead/tbody/
    tfoot wrappers are transparent; cells are the row's direct
    <td>/<th> children).  colspan/rowspan are reported as parsed (>=1,
    malformed -> 1), not grid-expanded: expansion is presentation
    logic downstream consumers apply when they need the dense grid."""
    salted = _salted_pages(pages, partitions=partitions)
    return salted.mapInArrow(_tables_batches, TABLES_SCHEMA)


_META_KEYS = {
    # attr-space -> column; name= keys
    ("name", "description"): "description",
    ("name", "twitter:card"): "twitter_card",
    # property= keys (the Open Graph namespace)
    ("property", "og:title"): "og_title",
    ("property", "og:description"): "og_description",
    ("property", "og:image"): "og_image",
    ("property", "og:type"): "og_type",
}


def meta_of_doc(doc) -> dict[str, Optional[str]]:
    """Per-document head-metadata extraction over an already-parsed
    DOM — the single source of truth shared by :func:`extract_meta`
    and the fused WAT kernel (`warc.wat_payload_df`), which parses the
    page once for metadata AND links."""
    out: dict[str, Optional[str]] = {
        n: None for n in _META_ARROW.names[1:]}
    titles = doc.get_nodes_by_name("title")
    if titles:
        # <title> is escapable-raw-text: the kernel parses it as a
        # RawText element whose content sits in .data, with entities
        # still encoded
        t = titles[0]
        raw = getattr(t, "data", None)
        text = (_htmllib.unescape(raw)
                if isinstance(raw, str) else _node_text(t))
        out["title"] = " ".join(text.split()) or None
    for el in doc.get_nodes_by_name("meta"):
        a = el.attrs or {}
        content = a.get("content")
        if content is None:
            continue
        for space in ("name", "property"):
            key = (a.get(space) or "").strip().lower()
            col = _META_KEYS.get((space, key))
            if col and out[col] is None:
                out[col] = content.strip()
    return out


_meta_batches = _page_udf(_META_ARROW, _on_dom(
    lambda url, doc: [(url, *meta_of_doc(doc).values())],
    lambda url, _: [(url,) + (None,) * (len(_META_ARROW) - 1)]))


def extract_meta(pages: DataFrame,
                 partitions: Optional[int] = None) -> DataFrame:
    """One row per page: first <title> text (entities decoded,
    whitespace-normalized) + description / og:title / og:description /
    og:image / og:type / twitter:card, each first-wins in document
    order (crawler convention for duplicated metas).  Missing -> null.
    The head-metadata sidecar a search/preview/snippet pipeline keeps
    next to the extracted main content."""
    salted = _salted_pages(pages, partitions=partitions)
    return salted.mapInArrow(_meta_batches, META_SCHEMA)


_JSONLD_ARROW = pa.schema([
    ("url", pa.string()), ("block_idx", pa.int32()),
    ("path", pa.string()), ("value", pa.string()),
])
JSONLD_SCHEMA = from_arrow_schema(_JSONLD_ARROW)


def _flatten_json(obj, path: str, out: list) -> None:
    """Depth-first scalar flattening: dicts extend the dotted path in
    insertion order (document order — json.loads preserves it), lists
    index as ``path[i]``.  Scalar leaves only; null leaves are kept as
    SQL nulls so schema.org optional fields stay observable."""
    if isinstance(obj, dict):
        for k, v in obj.items():
            _flatten_json(v, f"{path}.{k}" if path else str(k), out)
    elif isinstance(obj, list):
        for i, v in enumerate(obj):
            _flatten_json(v, f"{path}[{i}]", out)
    elif isinstance(obj, bool):
        out.append((path, "true" if obj else "false"))
    elif obj is None:
        out.append((path, None))
    else:
        out.append((path, str(obj)))


def _jsonld_rows(url, doc) -> list[tuple]:
    import json as _json
    rows = []
    blk = 0
    for el in doc.get_nodes_by_name("script"):
        a = el.attrs or {}
        typ = (a.get("type") or "").strip().lower()
        if typ != "application/ld+json":
            continue
        raw = getattr(el, "data", None)
        idx, blk = blk, blk + 1
        if not isinstance(raw, str) or not raw.strip():
            continue
        try:
            parsed = _json.loads(raw)
        except ValueError:
            continue  # malformed block: no rows, idx spent
        leaves: list = []
        _flatten_json(parsed, "", leaves)
        rows += [(url, idx, path, value) for path, value in leaves]
    return rows


_jsonld_batches = _page_udf(_JSONLD_ARROW, _on_dom(_jsonld_rows))


def extract_jsonld(pages: DataFrame,
                   partitions: Optional[int] = None) -> DataFrame:
    """Schema.org structured data: one row per scalar leaf of every
    ``<script type="application/ld+json">`` block, with document-order
    ``block_idx`` (malformed-JSON blocks consume an index but emit no
    rows — resilience is data, not task failure) and a dotted/indexed
    ``path`` (``offers.price``, ``tags[1]``).  The entity-extraction
    seed (products/articles/events) of a structured-pretraining corpus;
    the kernel parses <script> as raw text, so JSON bytes arrive
    verbatim (no entity decoding, per HTML raw-text rules).  Same fused
    plan shape as every kernel pass: scan-side projection -> url-hash
    exchange -> one mapInArrow, zero additional shuffles at 10^12 pages."""
    salted = _salted_pages(pages, partitions=partitions)
    return salted.mapInArrow(_jsonld_batches, JSONLD_SCHEMA)


_MICRODATA_ARROW = pa.schema([
    ("url", pa.string()), ("item_idx", pa.int32()),
    ("itemtype", pa.string()), ("prop_idx", pa.int32()),
    ("path", pa.string()), ("value", pa.string()),
])
MICRODATA_SCHEMA = from_arrow_schema(_MICRODATA_ARROW)

# microdata value extraction per element kind (WHATWG HTML §5.2.4:
# "values" — url-valued elements read their url attribute, <meta> reads
# content, <time> prefers datetime, everything else is textContent)
_MD_URL_SRC = frozenset(
    ("img", "audio", "video", "embed", "iframe", "source", "track"))


def _md_value(el) -> str:
    a = el.attrs or {}
    name = el.name
    if name == "meta":
        return (a.get("content") or "").strip()
    if name in ("a", "area", "link"):
        return (a.get("href") or "").strip()
    if name in _MD_URL_SRC:
        return (a.get("src") or "").strip()
    if name == "object":
        return (a.get("data") or "").strip()
    if name == "data" or name == "meter":
        return (a.get("value") or "").strip()
    if name == "time":
        dt = a.get("datetime")
        return dt.strip() if dt is not None else _node_text(el)
    return _node_text(el)


def _item_props(item, scope: str, prop: str, value_of) -> list:
    """Document-order (path, value) properties of one top-level item —
    the one walk behind microdata (``itemscope``/``itemprop``) and RDFa
    Lite 1.1 (``typeof``/``property``, the subset real
    schema.org-in-RDFa markup uses).

    Iterative DFS (hostile nesting must not recurse); each stack entry
    carries the dotted prefix its subtree's props emit under.  Per the
    WHATWG crawl rules: a ``prop`` WITHOUT ``scope`` emits
    ``value_of(el)`` (one row per whitespace-separated name) and its
    subtree keeps contributing to the SAME item; a ``prop`` WITH
    ``scope`` is a nested item — its subtree's props emit under
    ``name.`` — and a ``scope`` without ``prop`` below an item is a
    DIFFERENT top-level item, so its subtree is skipped here (it gets
    its own item_idx from :func:`_item_rows`)."""
    out = []
    stack = [(c, "") for c in reversed(item.children)]
    while stack:
        nd, pfx = stack.pop()
        attrs = getattr(nd, "attrs", None)
        if attrs is None:
            continue  # text/comment/entity nodes carry no properties
        names = (attrs.get(prop) or "").split()
        scoped = scope in attrs
        if scoped and not names:
            continue  # someone else's top-level item
        kids = getattr(nd, "children", None) or ()
        if names and scoped:
            # push once per name, reversed so multi-name prefixes emit
            # in attribute order
            for nm in reversed(names):
                npfx = f"{pfx}{nm}."
                stack.extend((c, npfx) for c in reversed(kids))
            continue
        out += [(pfx + nm, value_of(nd)) for nm in names]
        stack.extend((c, pfx) for c in reversed(kids))
    return out


def _item_rows(url, doc, scope: str, prop: str, type_attr: str,
               value_of) -> list[tuple]:
    """Rows of every top-level item — an element carrying the ``scope``
    attribute but not the ``prop`` one — numbered in document order,
    typed by its ``type_attr`` value, with :func:`_item_props` supplying
    its (path, value) pairs through ``value_of``."""
    rows = []
    item_idx = 0
    for el in doc.iter():
        attrs = getattr(el, "attrs", None)
        if not attrs or scope not in attrs or prop in attrs:
            continue
        kind = attrs.get(type_attr)
        kind = kind.strip() if kind else None
        rows += [(url, item_idx, kind, prop_idx, path, value)
                 for prop_idx, (path, value) in enumerate(
                     _item_props(el, scope, prop, value_of))]
        item_idx += 1
    return rows


_microdata_batches = _page_udf(_MICRODATA_ARROW, _on_dom(
    lambda url, doc: _item_rows(url, doc, "itemscope", "itemprop",
                                "itemtype", _md_value)))


def extract_microdata(pages: DataFrame,
                      partitions: Optional[int] = None) -> DataFrame:
    """Schema.org MICRODATA (the attribute-borne sibling of JSON-LD —
    together they are what real WAT consumers mine for structured
    entities): one row per property of every top-level item
    (``itemscope`` without ``itemprop``), with document-order
    ``item_idx``/``prop_idx``, the item's ``itemtype``, a dotted
    ``path`` through nested items (``offers.price``), and the value per
    the WHATWG extraction rules (<meta>→content, <a>/<link>→href,
    <img>→src, <time>→datetime, else whitespace-normalized entity-
    decoded text).  Multi-name ``itemprop="author url"`` emits one row
    per name; stray ``itemprop`` outside any item emits nothing.  The
    reference kernel has no structured-data surface (it is a
    single-document text converter); this is a corpus operator on the
    same parse.  Plan shape: scan-side projection -> url-hash exchange ->
    one mapInArrow kernel pass — zero extra shuffles at 10^12 pages."""
    salted = _salted_pages(pages, partitions=partitions)
    return salted.mapInArrow(_microdata_batches, MICRODATA_SCHEMA)


_RDFA_ARROW = pa.schema([
    ("url", pa.string()), ("item_idx", pa.int32()),
    ("typeof", pa.string()), ("prop_idx", pa.int32()),
    ("path", pa.string()), ("value", pa.string()),
])
RDFA_SCHEMA = from_arrow_schema(_RDFA_ARROW)


def _rdfa_value(el) -> str:
    """RDFa 1.1 object resolution for the common literal/IRI cases:
    ``content`` overrides everything (RDFa Core §7.5 step 11 — the
    inline datatype-less literal), then ``resource`` (explicit object
    IRI), then the element's navigation attribute (href/src/data),
    then <time>'s datetime, else the whitespace-normalized text."""
    a = el.attrs or {}
    c = a.get("content")
    if c is not None:
        return c.strip()
    r = a.get("resource")
    if r is not None:
        return r.strip()
    name = el.name
    if name in ("a", "area", "link"):
        return (a.get("href") or "").strip()
    if name in _MD_URL_SRC:
        return (a.get("src") or "").strip()
    if name == "object":
        return (a.get("data") or "").strip()
    if name == "time":
        dt = a.get("datetime")
        return dt.strip() if dt is not None else _node_text(el)
    return _node_text(el)


_rdfa_batches = _page_udf(_RDFA_ARROW, _on_dom(
    lambda url, doc: _item_rows(url, doc, "typeof", "property", "typeof",
                                _rdfa_value)))


def extract_rdfa(pages: DataFrame,
                 partitions: Optional[int] = None) -> DataFrame:
    """Schema.org RDFa (Lite 1.1 subset — ``typeof``/``property``/
    ``resource``/``content``) — the THIRD structured-data channel
    beside JSON-LD (:func:`extract_jsonld`) and microdata
    (:func:`extract_microdata`); real WAT consumers mine all three.
    One row per property of every top-level item (``typeof`` without
    ``property``), document-order ``item_idx``/``prop_idx``, dotted
    paths through nested items (``offers.price``), values per RDFa
    object resolution (``content`` override, ``resource`` IRIs,
    href/src, <time> datetime, else text).  Multi-name
    ``property="author url"`` emits one row per name; a stray
    ``property`` outside any ``typeof`` emits nothing (no vocab
    context).  The reference kernel has no structured-data surface;
    this is a corpus operator on the same parse (clean-room; kernel
    semantics per reference core/parser.py).  Plan shape: scan-side
    projection -> url-hash exchange -> one mapInArrow kernel pass —
    zero extra shuffles at 10^12 pages."""
    salted = _salted_pages(pages, partitions=partitions)
    return salted.mapInArrow(_rdfa_batches, RDFA_SCHEMA)


_OUTLINE_ARROW = pa.schema([
    ("url", pa.string()), ("heading_idx", pa.int32()),
    ("level", pa.int32()), ("section", pa.string()),
    ("heading", pa.string()),
])
OUTLINE_SCHEMA = from_arrow_schema(_OUTLINE_ARROW)

_H_LEVEL = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}


def outline_of_doc(doc) -> list[tuple[int, str, str]]:
    """(level, section, heading) per h1-h6 in document order, with
    hierarchical outline numbers: an hN increments counter N and zeroes
    everything deeper; ``section`` joins counters 1..N, so a SKIPPED
    level shows as a literal 0 (h3 straight after h1 → ``1.0.1``) —
    skipping is observable data, not silently renumbered."""
    counters = [0] * 6
    out: list[tuple[int, str, str]] = []
    for el in doc.iter():
        lvl = _H_LEVEL.get(getattr(el, "name", ""))
        if lvl is None:
            continue
        counters[lvl - 1] += 1
        for i in range(lvl, 6):
            counters[i] = 0
        section = ".".join(str(c) for c in counters[:lvl])
        out.append((lvl, section, _node_text(el)))
    return out


_outline_batches = _page_udf(_OUTLINE_ARROW, _on_dom(
    lambda url, doc: [(url, idx, *heading)
                      for idx, heading in enumerate(outline_of_doc(doc))]))


def extract_outline(pages: DataFrame,
                    partitions: Optional[int] = None) -> DataFrame:
    """Document OUTLINE: one row per h1-h6 heading with its hierarchical
    section number (``2.1.3``) — the structural skeleton that section-
    aware chunking, table-of-contents grounding, and long-document
    curriculum sampling key on (a training-data pipeline chunks along
    sections, not byte offsets).  Skipped heading levels number as
    literal zeros (``1.0.1``), making sloppy markup measurable.  Same
    fused plan shape as every kernel pass: scan-side projection ->
    url-hash exchange -> one mapInArrow, zero extra shuffles at 10^12
    pages.  The reference kernel has no outline surface (single-document
    converter, reference `lexor/command/to.py`)."""
    salted = _salted_pages(pages, partitions=partitions)
    return salted.mapInArrow(_outline_batches, OUTLINE_SCHEMA)


_IMAGES_ARROW = pa.schema([
    ("url", pa.string()), ("img_idx", pa.int32()),
    ("src", pa.string()), ("srcset", pa.string()),
    ("alt", pa.string()), ("width", pa.string()),
    ("height", pa.string()),
])
IMAGES_SCHEMA = from_arrow_schema(_IMAGES_ARROW)


def _image_rows(url, doc) -> list[tuple]:
    rows = []
    for i, el in enumerate(doc.get_nodes_by_name("img")):
        a = el.attrs or {}
        rows.append((url, i, a.get("src"), a.get("srcset"), a.get("alt"),
                     a.get("width"), a.get("height")))
    return rows


_images_batches = _page_udf(_IMAGES_ARROW, _on_dom(_image_rows))


def extract_images(pages: DataFrame,
                   partitions: Optional[int] = None) -> DataFrame:
    """One row per ``<img>`` element in document order: src / srcset /
    alt / declared width+height — the asset-harvest channel a
    MULTIMODAL corpus pipeline runs before fetching image payloads
    (image-text pair mining à la LAION keys on exactly (page url,
    img src, alt)).  Same fused one-pass ``mapInArrow`` plan as every
    kernel pass."""
    salted = _salted_pages(pages, partitions=partitions)
    return salted.mapInArrow(_images_batches, IMAGES_SCHEMA)


def srcset_candidates(images: DataFrame) -> DataFrame:
    """Expand :func:`extract_images` rows into one row per fetchable
    IMAGE CANDIDATE (the HTML spec's image-candidate strings): the
    plain ``src`` plus every ``srcset`` entry, with its parsed width
    descriptor (``640w`` → 640) — the fetch list a multimodal corpus
    builder feeds its image downloader, widest-variant-first.

    Pure scan-side string work (split/trim/regexp on the already-
    extracted attributes): no shuffle, no kernel re-parse.  Output:
    ``(url, img_idx, asset_url, descriptor, width)``; the ``src`` row
    carries a NULL descriptor.

    Candidate separation follows the spec's ambiguity rules rather
    than a bare comma split: a comma separates candidates when it
    follows a ``12w``/``2x`` descriptor or is followed by whitespace;
    a comma embedded in a URL (Cloudinary-style ``/w_100,h_200/``)
    stays part of the URL (the spec forbids URLs *starting/ending*
    with commas, so those are the only comma positions a separator can
    occupy).  Both rewrites are plain capture-group ``regexp_replace``
    (no lookbehind — the DuckDB mirror is RE2); trims strip ALL
    whitespace (newlines between candidates are common), and empty
    fragments are dropped so the downloader never sees a '' url."""
    base = images.select(
        "url", "img_idx", F.col("src").alias("asset_url"),
        F.lit(None).cast("string").alias("descriptor")
    ).where(F.col("asset_url").isNotNull())
    sep = F.regexp_replace(
        F.regexp_replace("srcset", r"([0-9](?:w|x))\s*,", "$1\x01"),
        r",\s+", "\x01")
    cand = (images
            .where(F.col("srcset").isNotNull())
            .select("url", "img_idx",
                    F.explode(F.split(sep, "\x01")).alias("c"))
            .select("url", "img_idx",
                    F.regexp_replace("c", r"^\s+|\s+$", "").alias("c"))
            .where(F.col("c") != "")
            .select("url", "img_idx",
                    F.regexp_extract("c", r"^(\S+)", 1).alias("asset_url"),
                    F.nullif(F.regexp_extract("c", r"^\S+\s+(\S+)", 1),
                             F.lit("")).alias("descriptor"))
            .where(F.col("asset_url") != ""))
    out = base.unionByName(cand)
    width = F.when(F.col("descriptor").rlike(r"^[0-9]+w$"),
                   F.regexp_extract("descriptor", r"^([0-9]+)w$", 1)
                    .cast("int"))
    return out.select("url", "img_idx", "asset_url", "descriptor",
                      width.alias("width"))


def srcset_candidates_sql(images_sql: str) -> str:
    """DuckDB mirror of :func:`srcset_candidates` over a SELECT
    producing (url, img_idx, src, srcset)."""
    return f"""
with img as ({images_sql}),
base as (
  select url, img_idx, src as asset_url, null::varchar as descriptor
  from img where src is not null
),
cand as (
  select url, img_idx,
         regexp_extract(ct, '^(\\S+)', 1) as asset_url,
         nullif(regexp_extract(ct, '^\\S+\\s+(\\S+)', 1), '')
           as descriptor
  from (
    select url, img_idx,
           regexp_replace(c, '^\\s+|\\s+$', '', 'g') as ct
    from img, unnest(string_split(
      regexp_replace(
        regexp_replace(srcset, '([0-9](w|x))\\s*,', '\\1' || chr(1), 'g'),
        ',\\s+', chr(1), 'g'),
      chr(1))) as t(c)
    where srcset is not null
  )
  where ct != '' and regexp_extract(ct, '^(\\S+)', 1) != ''
),
u as (select * from base union all select * from cand)
select url, img_idx, asset_url, descriptor,
       case when regexp_matches(descriptor, '^[0-9]+w$')
            then cast(regexp_extract(descriptor, '^([0-9]+)w$', 1) as int)
       end as width
from u
"""
