"""Web-graph operators: corpus link extraction + PageRank.

The other half of a crawl pipeline: after per-page extraction, the
LINK STRUCTURE drives crawl scheduling, spam/domain scoring, and
quality priors (PageRank-weighted sampling is a standard pretraining
curation signal).  Two operators:

* :func:`extract_links` — kernel-side (one fused ``mapInArrow`` pass,
  the `extract_pages` plan shape): per page, every ``<a href>`` with
  its anchor text and a minimal absolute resolution.  Rows-only in the
  gate (kernel output is not ANSI-SQL-expressible).
* :func:`pagerank` — the canonical iterative graph operator over any
  (src, dst) edge DataFrame: fixed power-iteration rounds of
  r' = (1-d)/N + d·Σ_in r/outdeg (the simplified variant where
  dangling-node mass leaks — documented, identical on both engines).
  Deterministic end to end (round-6 ranks each round, doubles shared
  bit-for-bit between engines), so the gate checks it against an
  unrolled-CTE DuckDB mirror — the `kmeans`/`bpe` fixed-round recipe.

Plan shape at 10^12 edges: per round, ONE shuffle — the contribution
join keyed on ``src`` (ranks and out-degrees co-partition with the
edge table's src key; on a stored graph, bucket both by src and the
join is shuffle-free) — and one map-side-combinable sum keyed on
``dst``.  Ranks are ``localCheckpoint``-ed per round so the plan stays
flat (the `dup_clusters` Pregel-on-DataFrames shape); rounds are FIXED,
not run-to-convergence, which is what makes the value oracle possible.
"""

from __future__ import annotations

from typing import Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from lexor_spark.job import _on_dom, _page_udf, _salted_pages
from lexor_spark.sketches import (_HLL_ALPHA, _hll_pos, _hll_pos_sql,
                                  _hll_rho, _hll_rho_sql)

__all__ = ["extract_links", "extract_directives", "pagerank",
           "pagerank_sql", "pagerank_links", "hits", "hits_sql",
           "anchor_texts", "fixture_edges", "FIXTURE_EDGES_SQL",
           "resolve_redirects", "resolve_redirects_sql",
           "fixture_redirects", "FIXTURE_REDIRECTS_SQL",
           "alias_collapse", "hyperball", "hyperball_sql",
           "extract_alternates", "article_chains", "article_stitch",
           "hreflang_clusters", "hreflang_clusters_sql",
           "host_edges", "host_rank"]


_LINKS_ARROW = pa.schema([
    ("url", pa.string()), ("href", pa.string()),
    ("abs_url", pa.string()), ("anchor", pa.string()),
    ("nofollow", pa.bool_()), ("dropped", pa.bool_()),
])
LINKS_SCHEMA = from_arrow_schema(_LINKS_ARROW)


def _resolve(base: str, href: str) -> str:
    """Minimal absolute resolution (scheme-absolute / protocol-relative
    / root-relative / path-relative) — the subset a frontier needs; the
    full RFC 3986 merge is a data-cleaning refinement, not engine
    work.  NULL-safe: a None base (hostile input row) or None href must
    degrade, never raise — a raise would turn the whole page into its
    operator's error row."""
    if not href:
        return None
    if not base:
        return href
    if "://" in href[:10]:
        return href
    scheme_end = base.find("://")
    if scheme_end < 0:
        return href
    if href.startswith("//"):
        return base[:scheme_end + 1] + href
    path_start = base.find("/", scheme_end + 3)
    origin = base if path_start < 0 else base[:path_start]
    if href.startswith("/"):
        return origin + href
    if href.startswith("#") or href.startswith("?"):
        return base
    basepath = "/" if path_start < 0 else base[path_start:]
    return origin + basepath[:basepath.rfind("/") + 1] + href


def _anchor_text(el) -> str:
    import html as _html

    from lexor_spark.kernel.dom import Entity, Text
    parts: list[str] = []
    stack = list(reversed(el.children))
    while stack:
        nd = stack.pop()
        cls = type(nd)
        if cls is Text:
            parts.append(nd.data)
        elif cls is Entity:
            parts.append(_html.unescape(nd.data))
        else:
            kids = getattr(nd, "children", None)
            if kids:
                stack.extend(reversed(kids))
    return " ".join("".join(parts).split())


def _link_dropped(el, memo: dict) -> bool:
    """True if the extractor's rule-set would DROP this link's text —
    i.e. the anchor sits in boilerplate (nav/header/footer/aside,
    boilerplate class/id tokens) or is itself boilerplate-classed.
    Uses the SAME decision function as extraction (`extraction_decide`),
    so the flag means exactly "this link's anchor does not survive into
    the extracted text".  Ancestor verdicts are memoized per document
    (links cluster under shared nav/footer subtrees)."""
    from lexor_spark.kernel.extractor import DROP, extraction_decide
    chain: list = []
    cur = el
    val = False
    while cur is not None:
        key = id(cur)
        if key in memo:
            val = memo[key]
            break
        chain.append((key, cur))
        cur = getattr(cur, "parent", None)
    for key, node in reversed(chain):
        if not val:
            val = extraction_decide(node) == DROP
        memo[key] = val
    return val


def links_of_doc(doc, url: str
                 ) -> list[tuple[str, str, str, bool, bool]]:
    """(href, abs_url, anchor, nofollow, dropped) per anchor element of
    an already-parsed DOM — the single source of truth shared by
    :func:`extract_links` and the fused WAT kernel
    (`warc.wat_payload_df`), which parses the page once for links AND
    metadata.  ``nofollow`` is the per-link ``rel`` token (RFC-style
    space-separated token match, the signal crawlers and PageRank
    weighting respect); ``dropped`` marks links whose anchor the
    extraction rule-set strips as boilerplate — the nav/footer links a
    content-graph consumer down-weights."""
    out: list[tuple[str, str, str, bool, bool]] = []
    memo: dict = {}
    for el in doc.get_nodes_by_name("a"):
        href = el.attrs.get("href") if el.attrs else None
        if not href:
            continue
        rel = el.attrs.get("rel")
        nofollow = (bool(rel)
                    and "nofollow" in rel.lower().split())
        out.append((href, _resolve(url, href), _anchor_text(el),
                    nofollow, _link_dropped(el, memo)))
    return out


_links_batches = _page_udf(_LINKS_ARROW, _on_dom(
    lambda url, doc: [(url, *link) for link in links_of_doc(doc, url)]))


_DIRECTIVES_ARROW = pa.schema([
    ("url", pa.string()), ("meta_robots", pa.string()),
    ("noindex", pa.bool_()), ("nofollow", pa.bool_()),
    ("canonical", pa.string()), ("canonical_abs", pa.string()),
    ("n_hreflang", pa.int32()), ("html_lang", pa.string()),
    ("rel_next_abs", pa.string()), ("rel_prev_abs", pa.string()),
])
DIRECTIVES_SCHEMA = from_arrow_schema(_DIRECTIVES_ARROW)


def _directives_rows(url, doc) -> list[tuple]:
    robots: list[str] = []
    canonical = None
    n_hreflang = 0
    html_lang = None
    rel_next = None
    rel_prev = None
    for el in doc.get_nodes_by_name("html"):
        lang = (el.attrs or {}).get("lang")
        if lang and lang.strip():
            html_lang = lang.strip().lower()
        break  # root element only
    for el in doc.get_nodes_by_name("meta"):
        a = el.attrs or {}
        if (a.get("name") or "").strip().lower() == "robots":
            robots.append((a.get("content") or "").strip().lower())
    for el in doc.get_nodes_by_name("link"):
        a = el.attrs or {}
        rel = (a.get("rel") or "").strip().lower()
        href = a.get("href")
        if rel == "canonical" and href and canonical is None:
            canonical = href
        elif rel == "alternate" and a.get("hreflang"):
            n_hreflang += 1
        elif rel == "next" and href and rel_next is None:
            rel_next = href
        elif rel == "prev" and href and rel_prev is None:
            rel_prev = href
    combined = ",".join(r for r in robots if r) or None
    toks = {t.strip() for t in (combined or "").split(",")}
    return [(url, combined, bool({"noindex", "none"} & toks),
             bool({"nofollow", "none"} & toks), canonical,
             _resolve(url, canonical) if canonical else None, n_hreflang,
             html_lang, _resolve(url, rel_next) if rel_next else None,
             _resolve(url, rel_prev) if rel_prev else None)]


# a page that fails to parse still gets its row: no directives found
_directives_batches = _page_udf(_DIRECTIVES_ARROW, _on_dom(
    _directives_rows,
    lambda url, _: [(url, None, False, False, None, None, 0, None, None,
                     None)]))


def extract_directives(pages: DataFrame,
                       partitions: Optional[int] = None) -> DataFrame:
    """Per-page crawl/index directives, one row per page: combined
    ``<meta name=robots>`` content (multiple metas comma-joined, as
    crawlers union them), the derived ``noindex``/``nofollow`` verdicts
    (``none`` implies both, per the Google/REP meta-tag docs — the
    page-level complement of robots.txt, which gates FETCHING while
    these gate INDEXING/link-following), the first
    ``<link rel=canonical>`` (first-wins, the documented crawler
    behavior for conflicting canonicals) with its absolute resolution,
    the ``hreflang`` alternate count, and the root ``<html lang>``
    attribute (trimmed/lowercased; the declared-language channel a
    metadata-vs-content language QA joins against).  Same fused one-pass
    ``mapInArrow`` plan as :func:`extract_links` — at 10^12 pages this
    adds zero shuffles beyond the url-hash exchange it shares with every
    kernel pass."""
    salted = _salted_pages(pages, partitions=partitions)
    return salted.mapInArrow(_directives_batches, DIRECTIVES_SCHEMA)


def extract_links(pages: DataFrame,
                  partitions: Optional[int] = None) -> DataFrame:
    """(url, href, abs_url, anchor) per anchor element, corpus-wide —
    the link-graph/anchor-text source table (crawl frontier, link-based
    quality priors, anchor-text training signal)."""
    salted = _salted_pages(pages, partitions=partitions)
    return salted.mapInArrow(_links_batches, LINKS_SCHEMA)


# ---------------------------------------------------------------------------
# PageRank (fixed rounds, value-oracled)
# ---------------------------------------------------------------------------

PR_DAMPING = 0.85
PR_ITERS = 5


def pagerank(edges: DataFrame, iters: int = PR_ITERS,
             damping: float = PR_DAMPING) -> DataFrame:
    """(node_id, rank) after ``iters`` power-iteration rounds over the
    (src, dst) edge DataFrame.  Deterministic: contributions and ranks
    round to 6 decimals every round on both engines."""
    spark = edges.sparkSession
    edges = edges.select("src", "dst").localCheckpoint()
    nodes = (edges.select(F.col("src").alias("v"))
             .union(edges.select(F.col("dst").alias("v")))
             .distinct().localCheckpoint())
    n = nodes.count()
    deg = (edges.groupBy("src")
           .agg(F.count("*").cast("double").alias("outdeg"))
           .localCheckpoint())
    base = (1.0 - damping) / n
    ranks = nodes.select("v", F.round(F.lit(1.0 / n), 6).alias("r"))
    for _ in range(iters):
        contrib = (edges.join(ranks, edges.src == ranks.v)
                   .join(deg, "src")
                   .select(F.col("dst").alias("v"),
                           F.round(F.col("r") / F.col("outdeg"), 6)
                            .alias("c"))
                   .groupBy("v")
                   .agg(F.round(F.sum("c"), 6).alias("s")))
        ranks = (nodes.join(contrib, "v", "left")
                 .select("v", F.round(
                     F.lit(base)
                     + damping * F.coalesce(F.col("s"), F.lit(0.0)),
                     6).alias("r"))
                 .localCheckpoint())
    return (ranks.select(F.col("v").alias("node_id"),
                         F.col("r").alias("rank"))
            .orderBy("node_id"))


def pagerank_sql(edges_sql: str, iters: int = PR_ITERS,
                 damping: float = PR_DAMPING) -> str:
    """Unrolled-CTE DuckDB mirror of :func:`pagerank` over an edge CTE
    body (a SELECT producing (src, dst))."""
    parts = [
        f"e as ({edges_sql})",
        "nodes as (select src as v from e union select dst from e)",
        "nn as (select count(*)::double as n from nodes)",
        "deg as (select src, count(*)::double as outdeg "
        "from e group by src)",
        "r0 as (select v, round(1.0 / nn.n, 6) as r "
        "from nodes cross join nn)",
    ]
    for t in range(iters):
        parts.append(
            f"c{t} as (select e.dst as v, "
            f"round(sum(round(r.r / d.outdeg, 6)), 6) as s\n"
            f"  from e join r{t} r on e.src = r.v "
            f"join deg d on e.src = d.src group by e.dst)")
        parts.append(
            f"r{t + 1} as (select nodes.v, "
            f"round((1.0 - {damping}) / nn.n "
            f"+ {damping} * coalesce(c.s, 0.0), 6) as r\n"
            f"  from nodes cross join nn "
            f"left join c{t} c on c.v = nodes.v)")
    return ("with " + ",\n".join(parts)
            + f"\nselect v as node_id, r as rank from r{iters} "
            f"order by node_id")


# ---------------------------------------------------------------------------
# HITS hubs & authorities (fixed rounds, value-oracled)
# ---------------------------------------------------------------------------

HITS_ITERS = 5


def hits(edges: DataFrame, iters: int = HITS_ITERS) -> DataFrame:
    """Kleinberg's HITS over a (src, dst) edge DataFrame: ``iters``
    alternating power-iteration rounds of auth(v) = Σ_{u→v} hub(u) and
    hub(u) = Σ_{u→v} auth(v), each half-step scaled by the MAX score
    (the standard [0,1] normalization — and unlike an L1 sum, a max of
    round-6 doubles is exactly order-independent, which is what lets a
    DuckDB mirror reproduce the values bit-for-bit).  Contributions and
    scores round to 6 decimals every half-step, the
    `pagerank`/`kmeans` fixed-round determinism recipe.

    Plan shape at 10^12 edges — the `pagerank` shape twice per round:
    the auth half-step is one src-keyed join (edges ⋈ hubs, both
    co-partitionable on src) + one map-side-combinable sum keyed on
    dst; the hub half-step mirrors it dst→src.  The max is a 1-row
    all-reduce broadcast back (1×1 crossJoin, the `dsir` shape); scores
    are ``localCheckpoint``-ed per round so the plan stays flat.
    Returns (node_id, auth, hub) — nodes with no in-edges have auth 0,
    no out-edges hub 0.
    """
    edges = edges.select("src", "dst").localCheckpoint()
    nodes = (edges.select(F.col("src").alias("v"))
             .union(edges.select(F.col("dst").alias("v")))
             .distinct().localCheckpoint())
    hub = nodes.select("v", F.lit(1.0).alias("h"))
    auth = None
    for _ in range(iters):
        araw = (edges.join(hub, edges.src == hub.v)
                .groupBy(F.col("dst").alias("v"))
                .agg(F.round(F.sum("h"), 6).alias("s")))
        amax = araw.agg(F.max("s").alias("m"))
        auth = (nodes.join(araw, "v", "left").crossJoin(amax)
                .select("v", F.round(
                    F.coalesce(F.col("s"), F.lit(0.0)) / F.col("m"),
                    6).alias("a"))
                .localCheckpoint())
        hraw = (edges.join(auth, edges.dst == auth.v)
                .groupBy(F.col("src").alias("v"))
                .agg(F.round(F.sum("a"), 6).alias("s")))
        hmax = hraw.agg(F.max("s").alias("m"))
        hub = (nodes.join(hraw, "v", "left").crossJoin(hmax)
               .select("v", F.round(
                   F.coalesce(F.col("s"), F.lit(0.0)) / F.col("m"),
                   6).alias("h"))
               .localCheckpoint())
    return (nodes.join(auth, "v").join(hub, "v")
            .select(F.col("v").alias("node_id"),
                    F.col("a").alias("auth"), F.col("h").alias("hub"))
            .orderBy("node_id"))


def hits_sql(edges_sql: str, iters: int = HITS_ITERS) -> str:
    """Unrolled-CTE DuckDB mirror of :func:`hits` over an edge CTE body
    (a SELECT producing (src, dst))."""
    # each CTE is referenced exactly ONCE downstream (the max is a
    # window over the coalesced join result, not a separate aggregate
    # CTE) — a twice-referenced CTE per round would double the inlined
    # scan tree each iteration and blow up the planner exponentially
    parts = [
        f"e as ({edges_sql})",
        "nodes as (select src as v from e union select dst from e)",
        "h0 as (select v, 1.0::double as h from nodes)",
    ]
    for t in range(iters):
        parts.append(
            f"ar{t} as (select e.dst as v, round(sum(h.h), 6) as s\n"
            f"  from e join h{t} h on e.src = h.v group by e.dst)")
        parts.append(
            f"a{t + 1} as (select v, round(s / max(s) over (), 6) as a "
            f"from (\n  select nodes.v, coalesce(ar.s, 0.0) as s\n"
            f"  from nodes left join ar{t} ar on ar.v = nodes.v))")
        parts.append(
            f"hr{t} as (select e.src as v, round(sum(a.a), 6) as s\n"
            f"  from e join a{t + 1} a on e.dst = a.v group by e.src)")
        parts.append(
            f"h{t + 1} as (select v, round(s / max(s) over (), 6) as h "
            f"from (\n  select nodes.v, coalesce(hr.s, 0.0) as s\n"
            f"  from nodes left join hr{t} hr on hr.v = nodes.v))")
    return ("with " + ",\n".join(parts)
            + f"\nselect a{iters}.v as node_id, a{iters}.a as auth, "
            f"h{iters}.h as hub\nfrom a{iters} "
            f"join h{iters} on h{iters}.v = a{iters}.v\norder by node_id")


def anchor_texts(pages: DataFrame) -> DataFrame:
    """Anchor-text aggregation per link TARGET — the classic web-corpus
    relevance signal (anchor text describes the page it points AT;
    reference: anchor-text indexing as in Brin & Page 1998 §2.2 /
    MS MARCO-style anchor corpora).  Kernel-extracted ``<a>`` elements
    (:func:`extract_links`) → canonical target URL → per-target:
    in-link count, distinct anchor strings, and the single most common
    non-empty anchor (ties broken lexicographically, so the output is
    deterministic).

    Plan shape at 10^12 edges: mapInArrow extraction (url-hash exchange, the
    `extract_pages` shape) → ONE dst-keyed two-level aggregate —
    count per (target, anchor) (map-side combinable; a mega-target's
    rows spread over (target, anchor) sub-keys first, the same
    two-phase idea as `domain_cap`) → max_by per target.  Hot targets
    (every page links "/") never serialize through one task until the
    per-anchor counts — already tiny — meet in phase 2."""
    from lexor_spark.urlfns import canonical_url

    links = extract_links(pages)
    tgt = (links.select(
        canonical_url(F.col("abs_url")).alias("target"),
        F.col("anchor"))
        .filter(F.col("anchor") != ""))
    per_anchor = (tgt.groupBy("target", "anchor")
                  .agg(F.count("*").alias("n")))
    return (per_anchor.groupBy("target")
            .agg(F.sum("n").alias("n_links"),
                 F.count("*").alias("n_distinct_anchors"),
                 F.min_by("anchor", F.struct(
                     (-F.col("n")).alias("neg_n"),
                     F.col("anchor"))).alias("top_anchor"))
            .orderBy("target"))


def pagerank_links(pages: DataFrame, iters: int = PR_ITERS,
                   damping: float = PR_DAMPING) -> DataFrame:
    """End-to-end link-graph ranking over KERNEL-extracted edges: per
    page, every ``<a href>`` from :func:`extract_links`, absolute URLs
    canonicalized (:func:`lexor_spark.urlfns.canonical_url` — tracking
    params/fragments dropped so link variants collapse to one node)
    and hashed to stable 64-bit node ids scan-side (``xxhash64``) so
    the per-round shuffles move 8-byte keys instead of URL strings,
    then :func:`pagerank` power iteration.  Returns (url, rank) per
    node — every node (corpus pages AND external link targets) is
    joined back to its canonical URL for the readout, so the output is
    engine-independent: a DuckDB oracle can reproduce it from the edge
    list alone without Spark's xxhash64 (collisions are the usual
    2^-64-per-pair negligible).  The whole chain is the
    crawl-scheduling shape: mapInArrow extraction → scan-side
    canonicalize+hash (no shuffle) → one src-keyed join + one dst sum
    per round."""
    from lexor_spark.urlfns import canonical_url

    links = extract_links(pages)
    canon_dst = canonical_url(F.col("abs_url"))
    canon_src = canonical_url(F.col("url"))
    curls = links.select(canon_src.alias("curl")).union(
        links.select(canon_dst.alias("curl"))).distinct()
    nodes = curls.select(F.xxhash64("curl").alias("node_id"),
                         F.col("curl").alias("url"))
    edges = (links.select(F.xxhash64(canon_src).alias("src"),
                          F.xxhash64(canon_dst).alias("dst"))
             .filter(F.col("src") != F.col("dst")))
    ranks = pagerank(edges, iters, damping)
    return (ranks.join(nodes, "node_id")
            .select("url", "rank")
            .orderBy("url"))


def host_edges(pages: DataFrame) -> DataFrame:
    """Distinct host→host edges from the kernel-extracted link graph —
    the aggregation Common Crawl publishes its host-level webgraph at
    (vastly smaller than the page graph: |hosts|² bounds it, and real
    link structure is intra-host-dominated).  Intra-host links drop
    out (src = dst), unparseable targets (no host) drop; the distinct
    collapses a host pair's many page-level links map-side before the
    exchange, so the shuffle carries host pairs, never page links."""
    from lexor_spark.urlfns import host_of

    links = extract_links(pages)
    return (links.select(host_of(F.col("url")).alias("src_host"),
                         host_of(F.col("abs_url")).alias("dst_host"))
            .filter((F.col("dst_host") != "")
                    & (F.col("src_host") != F.col("dst_host")))
            .distinct())


def host_rank(pages: DataFrame, iters: int = PR_ITERS,
              damping: float = PR_DAMPING) -> DataFrame:
    """Host-level PageRank over kernel-extracted edges (the public
    Common-Crawl host-ranking shape, cf. their harmonic-centrality
    sibling :func:`hyperball`): :func:`host_edges` → xxhash64 host ids
    (8-byte per-round shuffle keys, same trick as
    :func:`pagerank_links`) → :func:`pagerank` power iteration →
    join back to host strings.  Returns (host, rank).

    The edge table feeds the node list, the iteration AND the readout
    join, so it is materialized once (localCheckpoint) — without it
    every consumer would re-run the kernel parse of all pages; at
    production scale persist the edges to parquet staging instead
    (same plan, durable)."""
    e = host_edges(pages).localCheckpoint(eager=True)
    hosts = (e.select(F.col("src_host").alias("host"))
             .union(e.select("dst_host")).distinct())
    nodes = hosts.select(F.xxhash64("host").alias("node_id"), "host")
    edges = e.select(F.xxhash64("src_host").alias("src"),
                     F.xxhash64("dst_host").alias("dst"))
    ranks = pagerank(edges, iters, damping)
    return (ranks.join(nodes, "node_id")
            .select("host", "rank").orderBy("host"))


def fixture_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic link graph over the documents table
    (each doc links to two arithmetic neighbours, self-loops removed) —
    the SQL-expressible fixture the `pagerank` gate runs on; the REAL
    edge source is `extract_links` (kernel output, rows-only)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    m = docs.count()
    d = F.col("doc_id")
    e1 = docs.select(d.alias("src"), ((d * 3 + 1) % m).alias("dst"))
    e2 = docs.select(d.alias("src"), ((d * 5 + 2) % m).alias("dst"))
    return e1.union(e2).filter(F.col("src") != F.col("dst"))


FIXTURE_EDGES_SQL = """
select doc_id as src, (doc_id * 3 + 1) % c.m as dst
from documents cross join (select count(*) as m from documents) c
where doc_id <> (doc_id * 3 + 1) % c.m
union all
select doc_id, (doc_id * 5 + 2) % c.m
from documents cross join (select count(*) as m from documents) c
where doc_id <> (doc_id * 5 + 2) % c.m
"""


# ---------------------------------------------------------------------------
# Redirect-chain resolution (pointer doubling, value-oracled)
# ---------------------------------------------------------------------------

REDIRECT_ROUNDS = 4  # resolves chains up to 2**4 = 16 hops


def resolve_redirects(redirects: DataFrame,
                      rounds: int = REDIRECT_ROUNDS) -> DataFrame:
    """Resolve every URL's redirect CHAIN to its terminal target — the
    crawl-dedup step that collapses 301/302 aliases onto one canonical
    id before content fetch/dedup (CDX captures with 3xx status form
    the (src, dst) hop table; cf. Common Crawl's redirect-following
    fetch policy).

    Pointer doubling over the one-hop map ``next``: after round t the
    state maps u → the node min(chain_len, 2**t) hops ahead, so
    ``rounds`` self-joins resolve chains up to 2**rounds hops — O(log L)
    shuffle rounds instead of the O(L) a naive follow-the-next loop
    costs, which is the difference between 4 joins and a 16-round
    driver loop at crawl scale.  Each round is ONE equi-join of the
    state with itself on an 8-byte key (bucket the stored table by src
    and round 1 is shuffle-free); ``localCheckpoint`` per round keeps
    the plan flat (the `pagerank`/`dup_clusters` shape).

    Multiple captures of one src keep the MIN dst (deterministic).
    Output per redirect source: ``final_id`` (terminal target; NULL if
    still mid-chain after 2**rounds hops — i.e. a cycle or an
    over-long chain), ``hops`` (chain length walked; on a cycle the
    doubling count 2**rounds, deterministic), ``looped`` flag.
    Deterministic end to end → unrolled-CTE DuckDB mirror
    (:func:`resolve_redirects_sql`)."""
    nxt = (redirects.groupBy("src")
           .agg(F.min("dst").alias("dst"))
           .localCheckpoint())
    st = nxt.select("src", F.col("dst").alias("cur"),
                    F.lit(1).cast("long").alias("hops"))
    for _ in range(rounds):
        right = st.select(F.col("src").alias("r_src"),
                          F.col("cur").alias("r_cur"),
                          F.col("hops").alias("r_hops"))
        st = (st.join(right, st.cur == right.r_src, "left")
              .select(st.src,
                      F.coalesce("r_cur", "cur").alias("cur"),
                      (F.col("hops")
                       + F.coalesce("r_hops", F.lit(0))).alias("hops"))
              .localCheckpoint())
    srcs = nxt.select(F.col("src").alias("t_src"))
    return (st.join(srcs, st.cur == srcs.t_src, "left")
            .select(st.src.alias("url_id"),
                    F.when(F.col("t_src").isNull(), F.col("cur"))
                     .alias("final_id"),
                    "hops",
                    F.col("t_src").isNotNull().alias("looped"))
            .orderBy("url_id"))


def resolve_redirects_sql(redirects_sql: str,
                          rounds: int = REDIRECT_ROUNDS) -> str:
    """Unrolled-CTE DuckDB mirror of :func:`resolve_redirects` over a
    SELECT producing (src, dst)."""
    parts = [
        f"raw as ({redirects_sql})",
        "nxt as (select src, min(dst) as dst from raw group by src)",
        "s0 as (select src, dst as cur, 1::bigint as hops from nxt)",
    ]
    for t in range(rounds):
        parts.append(
            f"s{t + 1} as (select s.src, coalesce(r.cur, s.cur) as cur, "
            f"s.hops + coalesce(r.hops, 0) as hops\n"
            f"  from s{t} s left join s{t} r on r.src = s.cur)")
    return ("with " + ",\n".join(parts)
            + f"\nselect s.src as url_id, "
            f"case when t.src is null then s.cur end as final_id, "
            f"s.hops, t.src is not null as looped\n"
            f"from s{rounds} s left join (select distinct src from nxt) t "
            f"on t.src = s.cur\norder by url_id")


def fixture_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic redirect hop table over the documents
    table: docs chain downward inside their 8-block (8k+j → 8k+j-1 for
    j>0, terminal at 8k — chain lengths 0..7, which needs 3 of the 4
    doubling rounds), plus one 3-cycle on ids outside the doc range
    (-1 → -2 → -3 → -1) to pin the looped branch."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    d = F.col("doc_id")
    chain = (docs.filter(d % 8 != 0)
             .select(d.alias("src"), (d - 1).alias("dst")))
    cyc = spark.createDataFrame(
        [(-1, -2), (-2, -3), (-3, -1)], "src long, dst long")
    return chain.union(cyc)


FIXTURE_REDIRECTS_SQL = """
select doc_id as src, doc_id - 1 as dst from documents
where doc_id % 8 <> 0
union all
select * from (values (-1::bigint, -2::bigint), (-2, -3), (-3, -1))
  t(src, dst)
"""


def alias_collapse(directives: DataFrame, redirects: DataFrame,
                   rounds: int = REDIRECT_ROUNDS) -> DataFrame:
    """Collapse BOTH alias mechanisms — ``<link rel=canonical>`` (from
    :func:`extract_directives`) and HTTP redirects — into one alias
    graph and resolve every URL to its terminal canonical
    representative via :func:`resolve_redirects` pointer doubling.
    This is the id-assignment step a web corpus runs before URL-keyed
    dedup: a page served at /p?ref=x that 301s to /p whose HTML
    declares /canonical must count as ONE document.

    Output per alias source: (url, canonical_to, hops, looped) —
    ``looped`` marks canonical/redirect cycles (they happen on real
    sites; crawlers keep the fetched URL).  Same O(log L)
    shuffle-rounds shape as redirect resolution; the canonical edges
    arrive scan-side from the fused directives pass, so composing the
    two mechanisms adds zero extra kernel parses."""
    canon = (directives
             .filter(F.col("canonical_abs").isNotNull()
                     & (F.col("canonical_abs") != F.col("url")))
             .select(F.col("url").alias("src"),
                     F.col("canonical_abs").alias("dst")))
    edges = canon.union(redirects.select("src", "dst"))
    res = resolve_redirects(edges, rounds)
    return (res.select(F.col("url_id").alias("url"),
                       F.col("final_id").alias("canonical_to"),
                       "hops", "looped")
            .orderBy("url"))


_ALTERNATES_ARROW = pa.schema([
    ("url", pa.string()), ("hreflang", pa.string()),
    ("href", pa.string()), ("abs_url", pa.string()),
])
ALTERNATES_SCHEMA = from_arrow_schema(_ALTERNATES_ARROW)


def _alternates_rows(url, doc) -> list[tuple]:
    rows = []
    for el in doc.get_nodes_by_name("link"):
        a = el.attrs or {}
        rel = (a.get("rel") or "").strip().lower()
        href = a.get("href")
        lang = (a.get("hreflang") or "").strip().lower()
        if rel == "alternate" and href and lang:
            rows.append((url, lang, href, _resolve(url, href)))
    return rows


_alternates_batches = _page_udf(_ALTERNATES_ARROW, _on_dom(_alternates_rows))


def extract_alternates(pages: DataFrame,
                       partitions: Optional[int] = None) -> DataFrame:
    """``<link rel=alternate hreflang=…>`` edges, one row per
    declaration: (url, hreflang, href, abs_url) — the language-cluster
    channel (Google's hreflang spec).  Same fused ``mapInArrow`` plan
    as :func:`extract_links`."""
    salted = _salted_pages(pages, partitions=partitions)
    return salted.mapInArrow(_alternates_batches, ALTERNATES_SCHEMA)


def article_chains(directives: DataFrame,
                   rounds: int = REDIRECT_ROUNDS) -> DataFrame:
    """Pagination-chain assembly from kernel-extracted ``rel=next``
    declarations (the multi-page-article channel: /story?page=2 …): per
    chain member, the chain HEAD url (= chain id) and the 0-based page
    number.

    The ``rel_next_abs`` edges u→v are reversed into predecessor
    pointers v→u and resolved by :func:`resolve_redirects` pointer
    doubling — each member finds its head in O(log chain-length)
    shuffle rounds, never a per-hop driver loop.  Heads themselves
    (pages with a next but no predecessor) are unioned in at page 0;
    ``looped`` marks next-cycles (real-site pathology: crawlers keep
    the members unstitched).

    CONFLICTED targets — a page that two different pages both declare
    as their rel=next (syndicated duplicates, copy-paste templates) —
    get NO predecessor edge: keeping an arbitrary winner would stitch
    the downstream pages onto one article and silently truncate the
    other, so the ambiguous page starts its own chain instead (both
    upstream articles end before it; nothing mis-attaches)."""
    nxt = (directives
           .filter(F.col("rel_next_abs").isNotNull()
                   & (F.col("rel_next_abs") != F.col("url")))
           .select(F.col("url").alias("u"),
                   F.col("rel_next_abs").alias("v")))
    unique_tgt = (nxt.groupBy("v")
                  .agg(F.count("*").alias("_np"))
                  .filter(F.col("_np") == 1).select("v"))
    nxt = nxt.join(unique_tgt, "v")
    pred = nxt.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    res = resolve_redirects(pred, rounds)
    members = res.select(F.col("url_id").alias("url"),
                         F.col("final_id").alias("chain"),
                         F.col("hops").cast("int").alias("page_no"),
                         "looped")
    heads = (members.filter(~F.col("looped"))
             .select(F.col("chain").alias("url")).distinct()
             .select("url", F.col("url").alias("chain"),
                     F.lit(0).alias("page_no"), F.lit(False).alias("looped")))
    return members.unionByName(heads)


def article_stitch(chains: DataFrame, texts: DataFrame,
                   sep: str = "\n\n") -> DataFrame:
    """Stitch multi-page articles into single training documents: join
    the chain membership (:func:`article_chains`) to per-page text and
    concatenate in page order — one row per chain ``(chain, n_pages,
    stitched)``.  Looped chains are excluded (kept as single pages by
    the caller).  One shuffle on the chain id; the in-group ordering is
    an ``array_sort`` over collected (page_no, text) structs, never a
    corpus-wide window."""
    joined = (chains.filter(~F.col("looped"))
              .join(texts, "url")
              .select("chain", "page_no", "text"))
    parts = F.array_sort(F.collect_list(F.struct("page_no", "text")))
    return (joined.groupBy("chain")
            .agg(F.count("*").alias("n_pages"),
                 F.concat_ws(sep, F.transform(parts, lambda s: s.text))
                  .alias("stitched")))


def hreflang_clusters(alternates: DataFrame, rounds: int = 6) -> DataFrame:
    """Language-alternate page clusters from hreflang declarations:
    connected components over the symmetrized (url, abs_url) edge set,
    labeled by min url — the grouping step before per-cluster language
    dedup (train on ONE language version of a page set, not all 40).

    Min-label propagation with pointer jumping (the `dup_clusters`
    loop shape) for a FIXED ``rounds`` (components join in
    O(log diameter); hreflang sets are near-cliques, so 6 rounds cover
    diameters far beyond anything declared in the wild) — fixed rounds
    keep it value-oracle-able.  Output one row per cluster:
    ``(cluster, n_pages, langs)`` with ``langs`` the sorted distinct
    hreflang codes, pipe-joined (driver-sortable scalar, not an
    array)."""
    edges = (alternates
             .select(F.col("url").alias("u"), F.col("abs_url").alias("v"))
             .filter(F.col("u") != F.col("v")))
    edges = (edges.union(edges.select(F.col("v").alias("u"),
                                      F.col("u").alias("v")))
             .distinct().localCheckpoint(eager=True))
    labels = (edges.select(F.col("u").alias("id")).distinct()
              .withColumn("lbl", F.col("id")).localCheckpoint(eager=True))
    for _ in range(rounds):
        nbr = (edges.join(labels.withColumnRenamed("id", "v"), "v")
               .groupBy("u").agg(F.min("lbl").alias("nlbl")))
        jump = labels.select(F.col("id").alias("_jid"),
                             F.col("lbl").alias("jlbl"))
        labels = (labels
                  .join(nbr.withColumnRenamed("u", "id"), "id", "left")
                  .join(jump, F.col("lbl") == F.col("_jid"), "left")
                  .select("id", F.least("lbl", "nlbl", "jlbl").alias("lbl"))
                  .localCheckpoint(eager=True))
    langs = (alternates.select(F.col("url").alias("id"), "hreflang")
             .union(alternates.select(F.col("abs_url").alias("id"),
                                      "hreflang"))
             .distinct())
    member_langs = labels.join(langs, "id", "left")
    return (member_langs.groupBy(F.col("lbl").alias("cluster"))
            .agg(F.countDistinct("id").alias("n_pages"),
                 F.concat_ws("|", F.array_sort(
                     F.collect_set("hreflang"))).alias("langs")))


def hreflang_clusters_sql(alternates_sql: str) -> str:
    """Recursive-CTE DuckDB mirror of :func:`hreflang_clusters` over a
    SELECT producing (url, hreflang, abs_url) — small-scale oracle
    machinery (transitive closure), same min-label semantics."""
    from lexor_spark.dedup import components_sql_parts
    comp = ",\n".join(components_sql_parts("pairs"))
    return f"""
with recursive alts as ({alternates_sql}),
pairs as (
  select url as a, abs_url as b from alts where url != abs_url
),
{comp},
langs as (
  select url as id, hreflang from alts
  union
  select abs_url as id, hreflang from alts
)
select l.lbl as cluster, count(distinct l.id) as n_pages,
       coalesce(string_agg(distinct g.hreflang, '|'
                           order by g.hreflang), '') as langs
from lbl l left join langs g on l.id = g.id
group by l.lbl
"""


# ---------------------------------------------------------------------------
# HyperBall: approximate neighborhood function + harmonic centrality
# (value-oracled; the Common Crawl host-ranking algorithm)
# ---------------------------------------------------------------------------

HB_ITERS = 3
# HLL registers per node (fixture sizing; prod uses 64+).  Register
# index, rho and the bias constant are `sketches.hll_distinct`'s.
HB_M = 16


def _hb_estimate(regs: DataFrame, nodes: DataFrame, m: int) -> DataFrame:
    """(v, e): the raw HLL cardinality estimate per node from the
    sparse register rows (absent register == 0).  Deliberately NO
    small-range linear-counting correction: the raw estimator is a sum
    of exact powers of two (order-independent, bit-exact in IEEE
    doubles) followed by one exactly-rounded division — zero libm
    calls — so the DuckDB oracle replays it BIT-identically.
    Production tuning would add linear counting for tiny balls at the
    cost of cross-engine ln parity; the bias is irrelevant here
    because both engines (and both cluster sizes) compute the same
    function."""
    g = (regs.groupBy("v")
         .agg(F.count("*").alias("nz"),
              F.sum(F.pow(F.lit(0.5), F.col("val"))).alias("s_nz")))
    zr = F.lit(m) - F.coalesce(F.col("nz"), F.lit(0))
    s = F.coalesce(F.col("s_nz"), F.lit(0.0)) + zr.cast("double")
    est = F.lit(_HLL_ALPHA * m * m) / s
    return (nodes.join(g, "v", "left").select("v", est.alias("e")))


def hyperball(edges: DataFrame, iters: int = HB_ITERS,
              m: int = HB_M) -> DataFrame:
    """Approximate neighborhood function and harmonic centrality via
    HyperBall (Boldi & Vigna 2013, "In-core computation of geometric
    centralities with HyperBall") — the algorithm behind the public
    Common Crawl host rankings.  Each node carries an HyperLogLog
    counter of the nodes that can REACH it; round t unions every
    in-neighbour's counter (register-wise max), so after t rounds the
    counter estimates |B_in(v, t)|.  Harmonic centrality accumulates
    sum_t (|B(v,t)| - |B(v,t-1)|) / t with the ball-growth increments
    clamped at 0 (balls are non-decreasing; estimator switches are
    noise).

    Plan shape at 10^12 edges: counters are SPARSE ROWS (v, pos, val)
    — m small ints per node, never a per-node array a hot node could
    blow up — so the union-merge is ONE map-side-combinable max
    aggregation per round keyed on (v, pos), and the per-round shuffle
    carries register rows, not vectors or adjacency.  The edge join is
    the same src-keyed equi-join PageRank uses (AQE-splittable);
    localCheckpoint flattens the growing lineage exactly as
    :func:`pagerank` does.  Deterministic cross-engine: md5-derived
    registers, bit-length rho (no float log2), exact power-of-two
    sums, raw estimator with zero libm calls — the DuckDB oracle
    replays the whole iteration BIT-identically (see
    :func:`_hb_estimate` on why linear counting is omitted).

    Returns (node_id, reach_est, harmonic) — reach after ``iters``
    rounds and the harmonic-centrality estimate."""
    spark = edges.sparkSession
    e = edges.select("src", "dst").localCheckpoint()
    nodes = (e.select(F.col("src").alias("v"))
             .union(e.select(F.col("dst").alias("v")))
             .distinct().localCheckpoint())
    regs = nodes.select(
        "v", _hll_pos(F.col("v"), m).alias("pos"),
        _hll_rho(F.col("v")).alias("val")).localCheckpoint()
    ests = [_hb_estimate(regs, nodes, m)
            .withColumnRenamed("e", "e0").localCheckpoint()]
    for t in range(1, iters + 1):
        moved = (regs.join(e, regs.v == e.src)
                 .select(F.col("dst").alias("v"), "pos", "val"))
        regs = (regs.union(moved)
                .groupBy("v", "pos").agg(F.max("val").alias("val"))
                .localCheckpoint())
        ests.append(_hb_estimate(regs, nodes, m)
                    .withColumnRenamed("e", f"e{t}").localCheckpoint())
    out = nodes
    for est in ests:
        out = out.join(est, "v")
    harmonic = F.round(sum(
        (F.greatest(F.col(f"e{t}") - F.col(f"e{t-1}"), F.lit(0.0))
         / F.lit(float(t)))
        for t in range(1, iters + 1)), 4)
    return (out.select(F.col("v").alias("node_id"),
                       F.round(F.col(f"e{iters}"), 4).alias("reach_est"),
                       harmonic.alias("harmonic"))
            .orderBy("node_id"))


def hyperball_sql(edges_sql: str, iters: int = HB_ITERS,
                  m: int = HB_M) -> str:
    """Unrolled-CTE DuckDB mirror of :func:`hyperball`: same md5
    registers, same bit-length rho, same sparse-row max merge, same
    estimator arithmetic round for round."""
    def est(t: int) -> str:
        return (
            f"g{t} as (select v, count(*) as nz, "
            f"sum(power(0.5, val)) as s_nz from c{t} group by v),\n"
            f"e{t} as (select nodes.v,\n"
            f"  {_HLL_ALPHA * m * m} / (coalesce(s_nz, 0.0)\n"
            f"    + ({m} - coalesce(nz, 0))) as e\n"
            f"  from nodes left join g{t} on g{t}.v = nodes.v)")
    parts = [
        f"e as ({edges_sql})",
        "nodes as (select src as v from e union select dst from e)",
        f"c0 as (select v, {_hll_pos_sql('v', m)} as pos,\n"
        f"  {_hll_rho_sql('v')} as val from nodes)",
        est(0),
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"c{t} as (select v, pos, max(val) as val from (\n"
            f"  select v, pos, val from c{t - 1}\n"
            f"  union all\n"
            f"  select e.dst as v, c.pos, c.val from c{t - 1} c\n"
            f"  join e on c.v = e.src) u group by v, pos)")
        parts.append(est(t))
    inc = " + ".join(
        f"greatest(e{t}.e - e{t - 1}.e, 0.0) / {float(t)}"
        for t in range(1, iters + 1))
    joins = " ".join(f"join e{t} on e{t}.v = nodes.v"
                     for t in range(iters + 1))
    return (
        "with " + ",\n".join(parts)
        + f"\nselect nodes.v as node_id, round(e{iters}.e, 4) as reach_est,\n"
        f"  round({inc}, 4) as harmonic\n"
        f"from nodes {joins}\norder by node_id")
