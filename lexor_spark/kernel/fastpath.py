"""Array-backed fused extraction kernel (the SURVEY §7 'kernel step 3').

The object pipeline (`pipeline.extract_document`) builds a Node tree,
rewrites it into a second converted tree, selects main content, writes
text, and then disposes both trees.  This module produces THE SAME BYTES
from one pass over flat parallel node records:

* the parser appends ``[kind, name, attrs, data, a, b, subend]`` slots
  to ONE preorder list — no per-node objects, no children lists, no
  parent back-refs (nothing to dispose: no reference cycles exist);
* ``subend`` (index just past a node's subtree) makes every later stage
  a linear index walk with O(1) subtree skips, so the CONVERT stage
  disappears: DROP is an index jump, UNWRAP is a no-op marker, and the
  writer applies the decisions inline — the converted tree is never
  materialized;
* select_main's cascade and text-mass fallback run over the same array
  (masses via an accumulator stack over surviving text leaves — the
  same associative (total, lead, trail) fold `extractor._stripped_masses`
  uses, provably equal on any split of the text).

Byte-identity with the object path — text, spans, title, description,
lang_attr, codes, n_nodes, truncated, ok, err — is pinned by
``tests/test_fastpath.py`` (full sf0.001 corpus differential + hostile
inputs + hypothesis random HTML, each in four writer modes).  Grammar tables, regexes, and the
tag/attr caches are IMPORTED from `htmlparser`/`extractor` so the two
paths cannot drift silently; semantics citations live there.

The object path remains the general API (mutation, selectors, custom
rules/hooks) and runs the W2 styles; this path serves every unstyled
extraction, the W5 width/indent writer modes included — the
per-document kernel of the 10^12-row job, where it is ~1.5× the object
path serially (interleaved A/B in BENCH/BASELINE.md).

Round-3 refinement — parse-time drop-region skipping: records inside a
CONVERT-dropped element's subtree are counted, not built (structure,
diagnostics, and the few meta-feeding records excepted), non-title
rawtext bodies (script/style payloads) are never sliced, and the drop
decision is computed once at parse (slot 8) instead of once per walk.
On the synthetic corpus this is performance-NEUTRAL (order-balanced
pinned A/B median 1.03, range 0.89-1.17 on a noisy shared host) — its
value is allocation shape at scale: record count and string slicing no
longer grow with boilerplate mass, which on real crawl pages (script/
style routinely 50-80% of bytes, navigation DOM in the hundreds of
elements) is most of the document.  Byte-identity is pinned by the
same differential suite either way.

Round-4 refinement (kernel step 4) — fused start-tag cache + guarded
writer flushes: every start tag resolves (attrs, attr-drop verdict,
self-close) with ONE dict hit on the raw attr string, attrs dicts are
shared across records instead of copied per element, and the writer's
merge-boundary flushes skip the call when no text is pending.
Order-balanced core-pinned A/B vs the round-3 kernel: median 1.046
(16 pairs, range 0.93-1.19); byte-identity differential green.
"""

from __future__ import annotations

import html as _html
import re
from bisect import bisect_left
from typing import Optional

from lexor_spark.kernel import htmlparser as _hp
from lexor_spark.kernel.extractor import (_attr_drop, _CONTENT_TOKEN,
                                          _WS as _META_WS, DROP_TAGS,
                                          UNWRAP_TAGS)
from lexor_spark.kernel.htmlparser import (_ATTR, _ATTRS_CACHE,
                                           _ATTRS_CACHE_MAX, _DOCTYPE,
                                           _ENTITY, _MASTER, _NEWLINE,
                                           _RAWTEXT_CLOSE, _TAG_NAME,
                                           _WS_GT, SILENT_CONTAINER,
                                           LogEntry)
from lexor_spark.kernel.textwriter import _BLOCK_LEVEL, _CELL_TAGS

__all__ = ["fast_extract"]

# kernel step 4 — fused start-tag cache: raw attr string -> (attrs,
# attr_drop, self_close).  One dict hit replaces the old per-start-tag
# sequence (self-close strip, _ATTRS_CACHE get, dict(cached) COPY,
# separate attr-drop cache get); the _attr_drop regex — the costliest
# per-element check — now runs once per distinct raw string ever.
# The attrs dict is SHARED across records — safe because the array
# kernel only reads attrs (`.get`), never mutates them (the object path
# keeps its per-Element copies; its `_ATTRS_CACHE` entries are never
# mutated by either path).  The attr-drop half is attrs-only
# (`extractor._attr_drop`); the name-based DROP_TAGS check stays
# outside the cache.
_START_CACHE: dict = {}


def _start_tag(raw: str) -> tuple:
    """(attrs, attr_drop, self_close) for a start tag's raw attr
    string — cache miss path (hot loop inlines the `.get`)."""
    self_close = raw[-1] == "/"
    body = raw[:-1] if self_close else raw
    attrs: dict = {}
    if body and not body.isspace():
        cached = _ATTRS_CACHE.get(body)
        if cached is not None:
            attrs = cached                     # shared, read-only
        else:
            for am in _ATTR.finditer(body):
                key = am.group(1).lower()
                if key not in attrs:
                    g2, g3, g4 = am.group(2, 3, 4)
                    attrs[key] = (g2 if g2 is not None else
                                  g3 if g3 is not None else
                                  g4 if g4 is not None else "")
            if len(_ATTRS_CACHE) < _ATTRS_CACHE_MAX:
                _ATTRS_CACHE[body] = attrs     # share, don't copy
    ent = (attrs, 1 if (attrs and _attr_drop(attrs)) else 0, self_close)
    if len(_START_CACHE) < _ATTRS_CACHE_MAX:
        _START_CACHE[raw] = ent
    return ent


_EMPTY_START = ({}, 0, False)

# node kinds
_ELEM, _VOID, _TEXT, _ENTITY_K, _RAWTEXT, _OTHER = 0, 1, 2, 3, 4, 5

# writer constants (identical tables to textwriter)
_PARA = 2
_LINE = 1


class _ALog:
    """Diagnostic sink with the object parser's lazy line/col index."""

    __slots__ = ("text", "log", "_nl")

    def __init__(self, text: str) -> None:
        self.text = text
        self.log: list[LogEntry] = []
        self._nl: Optional[list[int]] = None

    def linecol(self, off: int) -> tuple[int, int]:
        if off < 0:
            return (0, 0)
        nl = self._nl
        if nl is None:
            nl = self._nl = [m.start()
                             for m in _NEWLINE.finditer(self.text)]
        idx = bisect_left(nl, off)
        prev = nl[idx - 1] if idx else -1
        return (idx + 1, off - prev)

    def msg(self, code: str, off: int, arg: tuple = ()) -> None:
        line, col = self.linecol(off)
        self.log.append(LogEntry(code, line, col, arg))


def _parse_arrays(text: str) -> tuple[list, list[LogEntry], int]:
    """Single-pass parse into preorder node records.

    Mirrors `_Parser.run` event for event (same master-regex scan, same
    recovery semantics, same diagnostics); every construct the object
    parser would create becomes one ``[kind, name, attrs, data, a, b,
    subend, drop]`` record.  ``a``/``b`` are (start, end) for
    Text/Entity and (pos, 0) for the rest.  ``drop`` (Elements only) is
    the CONVERT-stage drop decision (`extraction_decide`: DROP_TAGS or
    boilerplate class/id), computed ONCE here and read by both walks.

    Inside a dropped element's subtree the structural scan continues in
    full (stack discipline, auto-close, every W100/E100/W101/W102
    diagnostic at the same offsets) but records are NOT materialized —
    no text slicing, no attr parsing, no appends; the parser only
    counts what the object parser would have built (returned as
    ``skipped``, so n_nodes stays exact).  Exceptions that ARE
    materialized inside dropped regions because `_collect_meta_arrays`
    scans the whole record list: ``<title>`` RawText, ``<meta>`` voids,
    and ``<html>`` elements.  A dropped root's ``subend`` therefore
    lands just past those few survivors, and the walks' existing
    subtree jump stays O(1) and byte-identical."""
    n = len(text)
    nodes: list = []
    append = nodes.append
    log = _ALog(text)
    # stack of open-element RECORDS (dropped ones are never appended to
    # `nodes` but still participate in the open/close protocol); None
    # is the virtual root
    stack: list = [None]
    # index of a trailing Text record owned by the CURRENT top, or -1
    # (the parser's merge-with-trailing-Text rule)
    merge_idx = -1
    # drop region state: drop_at = stack length at the dropped root
    # (0 = not dropping); skipped = records counted but not built;
    # drop_merge mirrors merge_idx for phantom Text merging
    drop_at = 0
    skipped = 0
    drop_merge = False
    search = _MASTER.search
    ent_match = _ENTITY.match
    tag_match = _TAG_NAME.match
    tag_info = _hp._TAG_INFO
    start_cache = _START_CACHE
    caret = 0
    while caret < n:
        m = search(text, caret)
        if m is None:
            if n > caret:
                if drop_at:
                    if not drop_merge:
                        skipped += 1
                        drop_merge = True
                elif merge_idx >= 0:
                    nd = nodes[merge_idx]
                    nd[3] += text[caret:n]
                    nd[5] = n
                else:
                    append([_TEXT, None, None, text[caret:n], caret, n,
                            0, 0])
            caret = n
            break
        i = m.start()
        if i > caret:
            if drop_at:
                if not drop_merge:
                    skipped += 1
                    drop_merge = True
            elif merge_idx >= 0:
                nd = nodes[merge_idx]
                nd[3] += text[caret:i]
                nd[5] = i
            else:
                merge_idx = len(nodes)
                append([_TEXT, None, None, text[caret:i], caret, i, 0, 0])
        is_close, raw_name, raw = m.group(1, 2, 3)
        if raw_name is not None:
            info = tag_info.get(raw_name)
            if info is None:
                info = _hp._tag_info(raw_name)
            end = m.end()
            name = info[0]
            if is_close:  # end tag
                top = stack[-1]
                if top is not None and top[1] == name:
                    top[6] = len(nodes)
                    stack.pop()
                    caret = end
                else:
                    # unbalanced-close slow path (W100/W101/silent)
                    depth = -1
                    for k in range(len(stack) - 1, 0, -1):
                        if stack[k][1] == name:
                            depth = k
                            break
                    if depth == -1:
                        # stray end tag creates no node and pops nothing:
                        # a following text still merges with the trailing
                        # Text (object parser parity)
                        log.msg("W101", i, (name,))
                        caret = end
                        continue
                    silent = SILENT_CONTAINER.get(name, ())
                    here = len(nodes)
                    for k in range(len(stack) - 1, depth, -1):
                        forced = stack[k]
                        if forced[1] not in silent:
                            cl, cc = log.linecol(i)
                            log.msg("W100", forced[4],
                                    (forced[1], cl, cc))
                        forced[6] = here
                        stack.pop()
                    stack[-1][6] = here
                    stack.pop()
                    caret = end
                if drop_at and len(stack) < drop_at:
                    drop_at = 0
                merge_idx = -1
                drop_merge = False
                continue
            # start tag
            kind = info[1]
            closers = info[2]
            if closers is not None:
                here = len(nodes)
                while len(stack) > 1 and stack[-1][1] in closers:
                    stack[-1][6] = here
                    stack.pop()
                if drop_at and len(stack) < drop_at:
                    drop_at = 0
            if drop_at:
                # inside a dropped subtree: structure only, no records
                drop_merge = False
                self_close = bool(raw) and raw[-1] == "/"
                if kind == 0:
                    if name == "html":
                        attrs = _parse_attrs(raw[:-1] if self_close
                                             else raw)
                        idx = len(nodes)
                        rec = [_ELEM, name, attrs, None, i, 0, 0, 0]
                        append(rec)
                        if not self_close:
                            stack.append(rec)
                        else:
                            rec[6] = idx + 1
                    else:
                        skipped += 1
                        if not self_close:
                            stack.append([_ELEM, name, None, None, i,
                                          0, 0, 0])
                    caret = end
                    continue
                if kind == 1:
                    if name == "meta":
                        attrs = _parse_attrs(raw[:-1] if self_close
                                             else raw)
                        append([_VOID, name, attrs, None, i, 0,
                                len(nodes) + 1, 0])
                    else:
                        skipped += 1
                    caret = end
                    continue
                # rawtext element inside a dropped subtree
                pat = _RAWTEXT_CLOSE.get(name)
                if pat is None:
                    pat = _RAWTEXT_CLOSE[name] = re.compile(
                        "</" + name, re.IGNORECASE)
                cm = pat.search(text, end)
                j = cm.start() if cm else -1
                if j == -1:
                    if name == "title":
                        append([_RAWTEXT, name, None, text[end:], i, 0,
                                len(nodes) + 1, 0])
                    else:
                        skipped += 1
                    log.msg("E100", i, (name,))
                    caret = n
                    continue
                if name == "title":
                    append([_RAWTEXT, name, None, text[end:j], i, 0,
                            len(nodes) + 1, 0])
                else:
                    skipped += 1
                wm = _WS_GT.match(text, j + 2 + len(name))
                caret = wm.end() if wm else j + 2 + len(name)
                continue
            if raw:
                ent = start_cache.get(raw)
                if ent is None:
                    ent = _start_tag(raw)
                attrs, adrop, self_close = ent
            else:
                attrs, adrop, self_close = _EMPTY_START
            merge_idx = -1
            if kind == 0:
                drop = 1 if name in DROP_TAGS else adrop
                idx = len(nodes)
                rec = [_ELEM, name, attrs, None, i, 0, 0, drop]
                append(rec)
                if not self_close:
                    stack.append(rec)
                    if drop:
                        drop_at = len(stack)
                        drop_merge = False
                else:
                    rec[6] = idx + 1
                caret = end
                continue
            if kind == 1:
                append([_VOID, name, attrs, None, i, 0, len(nodes) + 1, 0])
                caret = end
                continue
            # rawtext element
            pat = _RAWTEXT_CLOSE.get(name)
            if pat is None:
                pat = _RAWTEXT_CLOSE[name] = re.compile(
                    "</" + name, re.IGNORECASE)
            cm = pat.search(text, end)
            j = cm.start() if cm else -1
            idx = len(nodes)
            # only <title> bodies are ever read (by _collect_meta_arrays);
            # script/style payloads are dropped by conversion, so their
            # (often huge) slices are never materialized
            if j == -1:
                append([_RAWTEXT, name, attrs,
                        text[end:] if name == "title" else None, i, 0,
                        idx + 1, 0])
                log.msg("E100", i, (name,))
                caret = n
                continue
            append([_RAWTEXT, name, attrs,
                    text[end:j] if name == "title" else None, i, 0,
                    idx + 1, 0])
            wm = _WS_GT.match(text, j + 2 + len(name))
            caret = wm.end() if wm else j + 2 + len(name)
            continue
        c = text[i]
        if c == "&":
            em = ent_match(text, i)
            if em is None:
                if drop_at:
                    if not drop_merge:
                        skipped += 1
                        drop_merge = True
                elif merge_idx >= 0:
                    nd = nodes[merge_idx]
                    nd[3] += "&"
                    nd[5] = i + 1
                else:
                    merge_idx = len(nodes)
                    append([_TEXT, None, None, "&", i, i + 1, 0, 0])
                caret = i + 1
            else:
                j = em.end()
                if drop_at:
                    skipped += 1
                    drop_merge = False
                else:
                    append([_ENTITY_K, None, None, text[i:j], i, j,
                            len(nodes) + 1, 0])
                    merge_idx = -1
                caret = j
            continue
        nxt = text[i + 1: i + 2]
        if nxt == "!" or nxt == "?":
            merge_idx = -1
            drop_merge = False
            if nxt == "!":
                if text.startswith("<!--", i):
                    j = text.find("-->", i + 4)
                    if j == -1:
                        if drop_at:
                            skipped += 1
                        else:
                            append([_OTHER, "#comment", None, None, i, 0,
                                    len(nodes) + 1, 0])
                        log.msg("E100", i, ("#comment",))
                        caret = n
                    else:
                        if drop_at:
                            skipped += 1
                        else:
                            append([_OTHER, "#comment", None, None, i, 0,
                                    len(nodes) + 1, 0])
                        caret = j + 3
                    continue
                if _DOCTYPE.match(text, i):
                    j = text.find(">", i + 9)
                    if j == -1:
                        log.msg("E100", i, ("#doctype",))
                        caret = n
                    else:
                        if drop_at:
                            skipped += 1
                        else:
                            append([_OTHER, "#doctype", None, None, i, 0,
                                    len(nodes) + 1, 0])
                        caret = j + 1
                    continue
                if text.startswith("<![CDATA[", i):
                    j = text.find("]]>", i + 9)
                    if j == -1:
                        if drop_at:
                            skipped += 1
                        else:
                            append([_OTHER, "#cdata", None, None, i, 0,
                                    len(nodes) + 1, 0])
                        log.msg("E100", i, ("#cdata-section",))
                        caret = n
                    else:
                        if drop_at:
                            skipped += 1
                        else:
                            append([_OTHER, "#cdata", None, None, i, 0,
                                    len(nodes) + 1, 0])
                        caret = j + 3
                    continue
                # bogus comment: "<!" to '>'
                j = text.find(">", i + 2)
                if j == -1:
                    log.msg("E100", i, ("#comment",))
                    if drop_at:
                        skipped += 1
                    else:
                        append([_OTHER, "#comment", None, None, i, 0,
                                len(nodes) + 1, 0])
                    caret = n
                else:
                    if drop_at:
                        skipped += 1
                    else:
                        append([_OTHER, "#comment", None, None, i, 0,
                                len(nodes) + 1, 0])
                    caret = j + 1
                continue
            # processing instruction
            j = text.find("?>", i + 2)
            if j == -1:
                log.msg("E100", i, ("#pi",))
                caret = n
            else:
                if drop_at:
                    skipped += 1
                else:
                    append([_OTHER, "#pi", None, None, i, 0,
                            len(nodes) + 1, 0])
                caret = j + 2
            continue
        # '<' that opens nothing
        if tag_match(text, i) is not None:
            log.msg("W102", i)
        if drop_at:
            if not drop_merge:
                skipped += 1
                drop_merge = True
        elif merge_idx >= 0:
            nd = nodes[merge_idx]
            nd[3] += "<"
            nd[5] = i + 1
        else:
            merge_idx = len(nodes)
            append([_TEXT, None, None, "<", i, i + 1, 0, 0])
        caret = i + 1
    # EOF sweep: E100 per unclosed node, outermost first; close subtrees
    total = len(nodes)
    for k in range(1, len(stack)):
        nd = stack[k]
        log.msg("E100", nd[4], (nd[1],))
        nd[6] = total
    return nodes, log.log, skipped


def _parse_attrs(raw: str) -> dict:
    """Attr parse for the few records materialized inside dropped
    regions (title/meta/html) — same grammar and first-occurrence rule
    as the hot-path inline version."""
    attrs: dict = {}
    if raw and not raw.isspace():
        cached = _ATTRS_CACHE.get(raw)
        if cached is not None:
            return cached                      # shared, read-only
        for am in _ATTR.finditer(raw):
            key = am.group(1).lower()
            if key not in attrs:
                g2, g3, g4 = am.group(2, 3, 4)
                attrs[key] = (g2 if g2 is not None else
                              g3 if g3 is not None else
                              g4 if g4 is not None else "")
        if len(_ATTRS_CACHE) < _ATTRS_CACHE_MAX:
            _ATTRS_CACHE[raw] = attrs          # share, don't copy
    return attrs


_BR_HR_IMG = frozenset(("br", "hr", "img"))
_MASS_TAGS = frozenset(("div", "section", "td", "blockquote"))


def _collect_meta_arrays(nodes: list) -> dict:
    meta: dict = {}
    missing = 3
    for nd in nodes:
        kind = nd[0]
        if kind == _RAWTEXT and nd[1] == "title" and "title" not in meta:
            meta["title"] = _META_WS.sub(
                " ", _html.unescape(nd[3])).strip()
            missing -= 1
        elif kind == _VOID and nd[1] == "meta":
            if nd[2].get("name", "").lower() == "description" and \
                    "description" not in meta:
                meta["description"] = nd[2].get("content", "").strip()
                missing -= 1
        elif kind == _ELEM and nd[1] == "html" and "lang" not in meta:
            lang = nd[2].get("lang")
            if lang:
                meta["lang"] = lang
                missing -= 1
        if not missing:
            break
    return meta


def _select_main_arrays(nodes: list) -> int:
    """Index of the selected main element, or -1 for the whole document
    (the object cascade of `extractor.select_main`, run over surviving
    nodes: <main>/[role=main] → <article> → content-ish class/id →
    highest text-mass div/section/td/blockquote, preorder-first ties)."""
    n = len(nodes)
    first_main = first_article = first_token = -1
    # text-mass fallback accumulators: stack of [idx, end, total, lead,
    # trail] for open candidate elements; candidates collected as
    # (idx, mass) in preorder.
    cand_stack: list = []
    cands: list[tuple[int, int]] = []
    i = 0
    while i < n:
        nd = nodes[i]
        kind = nd[0]
        while cand_stack and cand_stack[-1][1] <= i:
            idx, _e, t, l, tr = cand_stack.pop()
            cands.append((idx, 0 if l == t else t - l - tr))
        if kind == _ELEM:
            name = nd[1]
            attrs = nd[2]
            if nd[7]:
                i = nd[6]  # DROP (parse-time decision): skip subtree
                continue
            if name not in UNWRAP_TAGS:
                # surviving element: cascade tests
                if first_main == -1 and (
                        name == "main" or attrs.get("role") == "main"):
                    first_main = i
                    break  # first rule hit in document order wins
                if first_article == -1 and name == "article":
                    first_article = i
                if first_token == -1 and attrs:
                    token = attrs.get("class", "")
                    idv = attrs.get("id")
                    if idv:
                        token = token + " " + idv
                    if token and _CONTENT_TOKEN.search(token.lower()):
                        first_token = i
                if name in _MASS_TAGS:
                    cand_stack.append([i, nd[6], 0, 0, 0])
        elif kind == _TEXT or kind == _ENTITY_K:
            if cand_stack:
                d = nd[3]
                ct = len(d)
                if ct:
                    cl = ct - len(d.lstrip())
                    ctr = ct - len(d.rstrip())
                    for acc in cand_stack:
                        if acc[3] == acc[2]:   # everything so far is ws
                            acc[3] = acc[2] + cl
                        acc[2] += ct
                        acc[4] = ct + acc[4] if cl == ct else ctr
        elif kind == _VOID:
            if nd[1] not in _BR_HR_IMG:
                i += 1
                continue
        else:  # RawText / other: dropped (leaf records)
            i += 1
            continue
        i += 1
    if first_main != -1:
        return first_main
    if first_article != -1:
        return first_article
    if first_token != -1:
        return first_token
    while cand_stack:
        idx, _e, t, l, tr = cand_stack.pop()
        cands.append((idx, 0 if l == t else t - l - tr))
    best = -1
    best_mass = 0
    # preorder-first tie-break: smallest index among maximal masses
    for idx, mass in cands:
        if mass > best_mass or (mass == best_mass and mass > 0
                                and idx < best):
            best, best_mass = idx, mass
    return best


def _write_arrays(nodes: list, root_idx: int, width: Optional[int] = None,
                  indent: str = "") -> tuple[str, list]:
    """write_text over the array with convert decisions applied inline,
    ending in the same W5 layout step (``_TextBuilder.finish``).

    Adjacent surviving Text records merge exactly as the converted
    tree's per-element normalize would merge them (any surviving
    non-Text event is a merge boundary), so span tuples come out
    identical to the object path."""
    from lexor_spark.kernel.textwriter import _TextBuilder, Span
    tb = _TextBuilder()
    spans: list = []
    add_inline = tb.add_inline
    request_break = tb.request_break
    span_append = spans.append
    block_level = _BLOCK_LEVEL.get
    n = len(nodes)
    if root_idx < 0:
        i, end, root_name = 0, n, "#document"
        # whole-document fallback: children's span paths are rooted at
        # the Document's name, as the object writer produces
        path0 = "#document"
    else:
        root = nodes[root_idx]
        i, end, root_name = root_idx, root[6], root[1]
        path0 = ""
    # close-event stack: (subtree_end, action, arg) — action 0: break
    # level, 1: cell space, 2: path/pre scope pop
    closes: list[tuple] = []
    path = path0
    in_pre = root_name == "pre"
    # pending merged text: [data, start, end, path, in_pre]
    pend: Optional[list] = None

    def _flush() -> None:
        nonlocal pend
        if pend is None:
            return
        data, s, e, ppath, ppre = pend
        pend = None
        if ppre:
            if tb.add_verbatim(data) and s >= 0:
                span_append(Span(s, e, ppath))
        else:
            if add_inline(data) and s >= 0:
                span_append(Span(s, e, ppath))

    # root element open effects (write_text treats the root like any
    # element: break request + close event + path extension)
    if root_idx >= 0:
        level = block_level(root_name, 0)
        if level:
            request_break(level)  # no content yet: no-op, kept for parity
            closes.append((end, 0, level))
        elif root_name in _CELL_TAGS:
            closes.append((end, 1, 0))
        path = root_name
        i = root_idx + 1
    while True:
        # fire close events whose subtree ended at or before i; every
        # close is a merge boundary (texts inside and outside a
        # surviving element are not siblings in the converted tree)
        while closes and closes[-1][0] <= i:
            _e, action, arg = closes.pop()
            if pend is not None:
                _flush()
            if action == 0:
                request_break(arg)
            elif action == 1:
                tb.add_space()
            else:
                path, in_pre = arg
        if i >= end:
            break
        nd = nodes[i]
        kind = nd[0]
        if kind == _TEXT:
            data = nd[3]
            if data:
                if pend is not None:
                    pend[0] += data
                    if nd[5] >= 0:
                        pend[2] = nd[5]
                else:
                    pend = [data, nd[4], nd[5], path, in_pre]
            i += 1
            continue
        if kind == _ENTITY_K:
            if pend is not None:
                _flush()
            decoded = _html.unescape(nd[3])
            if add_inline(decoded) and nd[4] >= 0:
                span_append(Span(nd[4], nd[5], path))
            i += 1
            continue
        if kind == _ELEM:
            name = nd[1]
            if nd[7]:
                i = nd[6]
                continue
            if name in UNWRAP_TAGS:
                i += 1  # children hoist: descend with no scope change
                continue
            if pend is not None:
                _flush()
            sub = nd[6]
            level = block_level(name, 0)
            if level:
                request_break(level)
                closes.append((sub, 0, level))
            elif name in _CELL_TAGS:
                closes.append((sub, 1, 0))
            new_pre = in_pre or name == "pre"
            if sub > i + 1:  # children exist: open a path/pre scope
                closes.append((sub, 2, (path, in_pre)))
                path = path + "/" + name if path else name
                in_pre = new_pre
            i += 1
            continue
        if kind == _VOID:
            name = nd[1]
            if name == "br":
                if pend is not None:
                    _flush()
                request_break(_LINE)
            elif name == "hr":
                if pend is not None:
                    _flush()
                request_break(_PARA)
            elif name == "img":
                if pend is not None:
                    _flush()  # img survives, writes nothing
            i += 1
            continue
        # RawText / other: dropped by conversion
        i += 1
    _flush()
    while closes:
        _e, action, arg = closes.pop()
        if action == 0:
            request_break(arg)
        elif action == 1:
            tb.add_space()
        else:
            path, in_pre = arg
    return tb.finish(width, indent), spans


def fast_extract(res, text: str, width: Optional[int] = None,
                 indent: str = "") -> None:
    """Fill an `ExtractResult` from the array kernel in any W5 writer
    mode (``width``/``indent``); only W2 styles take the object path."""
    nodes, log, skipped = _parse_arrays(text)
    res.codes = [e.code for e in log]
    meta = _collect_meta_arrays(nodes)
    res.title = meta.get("title")
    res.description = meta.get("description")
    res.lang_attr = meta.get("lang")
    res.n_nodes = len(nodes) + skipped + 1  # + the document root
    main_idx = _select_main_arrays(nodes)
    res.text, spans = _write_arrays(nodes, main_idx, width, indent)
    res.spans = [s.as_tuple() for s in spans]
