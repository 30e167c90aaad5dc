"""Seeded pages tables for the benchmark workloads.

Every table is a pure function of ``(workload, seed)`` and is written
once as parquet under the benchmark's cache directory; later runs with
the same seed scan the cached files.  Generation never calls into
``lexor_spark``: the program under test receives only the finished
``(url, warc_ts, html, text, lang)`` table.

* ``template`` pages reproduce the shape of ``lexor_spark.pages.pages_df``
  (boilerplate shell, four main-content variants, ~1.06 KB per page) over
  5,000 seeded documents shaped like ``documents.parquet`` (10-100 words
  from a small vocabulary), tiled ``repeat`` times with distinct urls.
* ``crawl_mix`` pages have heavy-tailed sizes (log-normal, median 16 KB),
  an exact 1% of ~2.4 MB pages (150 copies of a median body, clustered
  in crawl order the way giant blobs cluster in real tables), and an
  exact small share of hostile shapes: deep nesting, a ~200 KB unclosed
  tag and invalid UTF-8 bytes.  Sizes come from a fixed quantile grid,
  so the seed moves content and placement but not the size mix.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import statistics

import pyarrow as pa
import pyarrow.parquet as pq

__all__ = ["WORKLOAD_CORPUS", "WARMUP_CORPUS", "pages_path", "warmup_path",
           "read_sample", "stats", "urls", "sample_urls"]

VOCAB = ("spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch")
# a few multi-byte words so the UTF-8 and entity paths are exercised
VOCAB_WIDE = VOCAB + ("café", "élève", "naïve", "数据", "表格", "Straße")
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")

TEMPLATE_DOCS = 5_000
CRAWL_MEDIAN_BYTES = 16_384
SHELL_BYTES = 2_000  # about what _crawl_shell adds around the body
CRAWL_SIGMA = 0.8
HEAVY_SHARE = 0.01
HEAVY_COPIES = 150
HOSTILE_KINDS = ("deep", "unclosed", "badbytes")
HOSTILE_EACH = 2
N_FILES = 8
STATS = "_STATS.json"

SCHEMA = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                    ("html", pa.binary()), ("text", pa.string()),
                    ("lang", pa.string())])

# bump when a generator changes, so stale cached tables are not reused
GENERATOR_VERSION = 2


def _words(rnd: random.Random, n: int, vocab=VOCAB) -> str:
    return " ".join(rnd.choices(vocab, k=n))


# ---------------------------------------------------------------------------
# template pages (the shape of lexor_spark.pages.pages_df)
# ---------------------------------------------------------------------------

def _template_html(doc_id: int, text: str, lang: str) -> str:
    n = len(text)
    third = n // 3
    p1, p2, p3 = text[:third], text[third:2 * third], text[2 * third:]
    title = f"Doc {doc_id} &amp; notes — site"
    head = (f'<!doctype html>\n<html lang="{lang}">\n<head><title>{title}'
            f'</title>\n<meta name="description" content="synthetic page '
            f'{doc_id}">\n<link rel="stylesheet" href="/s.css"></head>\n')
    shell_top = (f'<body>\n<header class="site-header"><h1>Site {doc_id % 97}'
                 '</h1></header>\n<nav class="nav"><ul><li><a href="/">Home</a>'
                 '<li><a href="/about">About »</a></ul></nav>\n'
                 '<div class="sidebar"><h3>Ads</h3><p>buy things</p></div>\n'
                 '<!-- layout: generated -->\n')
    core = (f"<h2>{title}</h2>\n<p>{p1}"
            f" &amp; <b>more</b> – café &#233;lève.</p>\n<p>{p2}"
            f"</p>\n<blockquote>quoted: {p3}</blockquote>\n"
            "<ul><li>alpha<li>beta &lt;3</ul>\n")
    variant = doc_id % 4
    if variant == 0:
        main = f"<main>\n{core}</main>\n"
    elif variant == 1:
        main = f"<article>\n{core}</article>\n"
    elif variant == 2:
        main = f'<div class="content">\n{core}</div>\n'
    else:
        main = (f'<div id="main">\n{core}'
                "<p>trailing unclosed paragraph\n</div>\n")
    bottom = ('<footer class="footer">© 2026 example</footer>\n'
              '<script>var x = "<p>not text</p>"; if (1 < 2) '
              '{ x += "&amp;"; }</script>\n</body></html>\n')
    return head + shell_top + main + bottom


def _template_rows(seed: int, repeat: int, n_docs: int = TEMPLATE_DOCS) -> list[tuple]:
    rnd = random.Random(f"template:{seed}")
    docs = [(rnd.randint(10, 100), rnd.choice(LANGS)) for _ in range(n_docs)]
    texts = [_words(rnd, n) for n, _ in docs]
    rows = []
    for rep in range(repeat):
        for base, ((_, lang), text) in enumerate(zip(docs, texts)):
            doc_id = base + rep * 1_000_000
            url = (f"https://site{doc_id % 97}.example/src{base % 20}"
                   f"/p{doc_id}")
            html = _template_html(doc_id, text, lang).encode()
            rows.append((url, doc_id, html, text, lang))
    rnd.shuffle(rows)  # scan order is not group or salt order
    return rows


# ---------------------------------------------------------------------------
# crawl-mix pages
# ---------------------------------------------------------------------------

def _crawl_body(rnd: random.Random, target: int) -> str:
    """Main-content markup of about ``target`` bytes: headings, prose with
    inline links and entities, lists and the odd table."""
    parts: list[str] = []
    size = 0
    while size < target:
        k = rnd.random()
        if k < 0.08:
            s = f"<h2>{_words(rnd, rnd.randint(2, 8), VOCAB_WIDE)}</h2>\n"
        elif k < 0.16:
            items = "".join(f"<li>{_words(rnd, rnd.randint(2, 12))}</li>"
                            for _ in range(rnd.randint(2, 8)))
            s = f"<ul>{items}</ul>\n"
        elif k < 0.20:
            cells = "".join(
                "<tr>" + "".join(f"<td>{_words(rnd, rnd.randint(1, 4))}</td>"
                                 for _ in range(4)) + "</tr>"
                for _ in range(rnd.randint(2, 6)))
            s = f"<table>{cells}</table>\n"
        else:
            a, b = rnd.randint(8, 60), rnd.randint(4, 40)
            s = (f"<p>{_words(rnd, a, VOCAB_WIDE)} <a href=\"/r/{rnd.randint(0, 9999)}\">"
                 f"{_words(rnd, 2)}</a> &amp; <em>{_words(rnd, 3)}</em> "
                 f"{_words(rnd, b, VOCAB_WIDE)}.</p>\n")
        parts.append(s)
        size += len(s.encode())
    return "".join(parts)


def _crawl_shell(rnd: random.Random, doc_id: int, lang: str, body: str) -> str:
    nav = "".join(f'<li><a href="/c/{k}">{_words(rnd, 2)}</a></li>'
                  for k in range(rnd.randint(5, 30)))
    return (f'<!DOCTYPE html>\n<html lang="{lang}"><head><meta charset="utf-8">'
            f"<title>{_words(rnd, 6)} | site{doc_id % 211}</title>"
            f'<meta name="description" content="{_words(rnd, 12)}">'
            '<style>body{margin:0} .nav li{display:inline}</style>'
            '<script>window.dataLayer=[];function g(){dataLayer.push(arguments)}'
            ' if (a < b && c > d) { g("<div>"); }</script></head>\n<body>'
            f'<header class="site-header"><nav class="nav"><ul>{nav}</ul></nav>'
            '</header>\n<div class="wrapper"><aside class="sidebar">'
            f"<p>{_words(rnd, 20)}</p></aside>\n<!-- content -->\n"
            f'<article class="post">{body}</article>\n</div>\n'
            f'<footer class="footer"><p>© {_words(rnd, 5)}</p></footer>'
            "</body></html>\n")


def _hostile_html(rnd: random.Random, kind: str) -> bytes:
    if kind == "deep":
        depth = 2_000 + rnd.randint(0, 1_000)
        return (("<div>" * depth) + _words(rnd, 50) + ("</div>" * depth)).encode()
    if kind == "unclosed":
        return ('<html><body><p>start</p><div class="'.encode()
                + _words(rnd, 40_000).encode()[:200_000])
    # invalid UTF-8: lone continuation and 0xff/0xfe bytes inside markup
    noise = bytes(rnd.choice((0x80, 0xbf, 0xc3, 0xfe, 0xff, 0xe2))
                  for _ in range(rnd.randint(500, 4_000)))
    return (b"<html><body><main><p>" + _words(rnd, 200).encode() + noise
            + b"</p><p>" + _words(rnd, 50).encode() + b"</p></main></body></html>")


def _crawl_rows(seed: int, n_docs: int) -> list[tuple]:
    rnd = random.Random(f"crawl_mix:{seed}")
    n_heavy = round(n_docs * HEAVY_SHARE)
    n_hostile = HOSTILE_EACH * len(HOSTILE_KINDS)
    n_plain = n_docs - n_heavy - n_hostile
    # fixed quantile grid of a log-normal: the size mix is seed-independent
    norm = statistics.NormalDist(math.log(CRAWL_MEDIAN_BYTES), CRAWL_SIGMA)
    sizes = [min(400_000, max(1_500, int(math.exp(norm.inv_cdf((k + 0.5) / n_plain)))))
             for k in range(n_plain)]
    rnd.shuffle(sizes)
    kinds = (["plain"] * n_plain + ["heavy"] * n_heavy
             + [k for k in HOSTILE_KINDS for _ in range(HOSTILE_EACH)])
    rows = []
    for doc_id, kind in enumerate(kinds):
        lang = rnd.choice(LANGS)
        url = f"https://site{doc_id % 211}.example/{kind}/p{doc_id}"
        text = _words(rnd, rnd.randint(10, 100))
        if kind == "plain":
            html = _crawl_shell(rnd, doc_id, lang,
                                _crawl_body(rnd, sizes[doc_id] - SHELL_BYTES)).encode()
        elif kind == "heavy":
            body = _crawl_body(rnd, CRAWL_MEDIAN_BYTES - SHELL_BYTES)
            html = _crawl_shell(rnd, doc_id, lang, body * HEAVY_COPIES).encode()
        else:
            html = _hostile_html(rnd, kind)
        rows.append((url, doc_id, html, text, lang))
    # crawl order: pages shuffled, but the giant blobs sit together in one
    # run of the table, as they do in real crawl segments
    plain = rows[:n_plain] + rows[n_plain + n_heavy:]
    rnd.shuffle(plain)
    at = rnd.randrange(len(plain))
    return plain[:at] + rows[n_plain:n_plain + n_heavy] + plain[at:]


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------

WORKLOAD_CORPUS = {
    # workload -> (generator, kwargs)
    "template_1k": ("template", {"repeat": 2}),
    "crawl_mix": ("crawl_mix", {"n_docs": 1_000}),
}
# each workload's small, fixed, seed-independent table that the session
# set-up warms the Python workers on
WARMUP_CORPUS = {
    "template_1k": ("template", {"repeat": 1, "n_docs": 400}),
    "crawl_mix": ("crawl_mix", {"n_docs": 100}),
}
MAX_CACHED = 16  # tables kept in the cache; the least recently used go


def _rows(kind: str, seed: int, **kw) -> list[tuple]:
    return _template_rows(seed, **kw) if kind == "template" else _crawl_rows(seed, **kw)


def pages_path(cache_dir: str, workload: str, seed: int) -> str:
    """Directory of the workload's pages table for ``seed``, generating
    and caching it on first use."""
    return _table(cache_dir, *WORKLOAD_CORPUS[workload], seed)


def warmup_path(cache_dir: str, workload: str) -> str:
    """Directory of the workload's warm-up table (the same for every seed)."""
    return _table(cache_dir, *WARMUP_CORPUS[workload], 0)


def _table(cache_dir: str, kind: str, kw: dict, seed: int) -> str:
    tag = "_".join([kind, f"v{GENERATOR_VERSION}", f"s{seed}"]
                   + [f"{k}{v}" for k, v in sorted(kw.items())])
    path = os.path.join(cache_dir, tag)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        os.utime(path)
        return path
    _evict(cache_dir, MAX_CACHED - 1)
    rows = _rows(kind, seed, **kw)
    tmp = path + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    per = -(-len(rows) // N_FILES)
    for f in range(N_FILES):
        chunk = rows[f * per:(f + 1) * per]
        table = pa.table({
            "url": [r[0] for r in chunk],
            "warc_ts": pa.array([(1_700_000_000 + r[1] % (86_400 * 365)) * 1_000_000
                                 for r in chunk], pa.int64()).cast(pa.timestamp("us")),
            "html": [r[2] for r in chunk],
            "text": [r[3] for r in chunk],
            "lang": [r[4] for r in chunk],
        }, schema=SCHEMA)
        pq.write_table(table, os.path.join(tmp, f"part-{f:05d}.parquet"))
    # compressed bytes of the two columns the extraction scan reads
    scan_bytes = 0
    for name in os.listdir(tmp):
        meta = pq.ParquetFile(os.path.join(tmp, name)).metadata
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            scan_bytes += sum(rg.column(c).total_compressed_size
                              for c in range(rg.num_columns)
                              if rg.column(c).path_in_schema in ("url", "html"))
    with open(os.path.join(tmp, STATS), "w") as fh:
        json.dump({"docs": len(rows), "html_bytes": sum(len(r[2]) for r in rows),
                   "scan_bytes": scan_bytes}, fh)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    os.replace(tmp, path)
    return path


def _evict(cache_dir: str, keep: int) -> None:
    os.makedirs(cache_dir, exist_ok=True)
    tables = sorted((os.path.getmtime(os.path.join(cache_dir, n)), n)
                    for n in os.listdir(cache_dir))
    for _, name in tables[:max(0, len(tables) - keep)]:
        shutil.rmtree(os.path.join(cache_dir, name), ignore_errors=True)


def stats(path: str) -> dict:
    """Rows, html bytes and compressed (url, html) bytes of a cached table."""
    with open(os.path.join(path, STATS)) as fh:
        return json.load(fh)


def urls(path: str) -> list[str]:
    return [u for name in sorted(os.listdir(path)) if name.endswith(".parquet")
            for u in pq.read_table(os.path.join(path, name), columns=["url"])
            .column("url").to_pylist()]


def sample_urls(all_urls: list[str], seed: int, k: int) -> list[str]:
    """A seeded sample of ``k`` urls plus every hostile page and the
    first two giant pages: the pages the byte-identity check must see."""
    rnd = random.Random(f"sample:{seed}")
    picked = set(rnd.sample(all_urls, min(k, len(all_urls))))
    picked.update(u for u in all_urls if any(f"/{h}/" in u for h in HOSTILE_KINDS))
    picked.update([u for u in all_urls if "/heavy/" in u][:2])
    return sorted(picked)


def read_sample(path: str, urls: set[str]) -> dict[str, bytes]:
    """``url -> html`` for ``urls`` straight from the parquet files (the
    serial oracle's input; no Spark involved)."""
    out: dict[str, bytes] = {}
    for name in sorted(os.listdir(path)):
        if name.endswith(".parquet"):
            t = pq.read_table(os.path.join(path, name), columns=["url", "html"])
            for u, h in zip(t.column("url").to_pylist(), t.column("html").to_pylist()):
                if u in urls:
                    out[u] = h
    return out
