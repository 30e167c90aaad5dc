"""One-pass extraction kernel: parse, select and write in one scan.

The object pipeline (`pipeline._object_extract`) builds a Node tree,
rewrites it into a converted tree, selects the main element and writes
its text.  This module produces THE SAME BYTES from one streaming pass
over the decoded page.  The pass is the object parser's master-regex
loop (same stack discipline, recovery and diagnostics), and at each
token it applies the converter's decisions, so no node record is built:

* drop decisions (DROP_TAGS, boilerplate class/id) are made at the
  start tag; inside a dropped subtree only structure, diagnostics, the
  node count and the metadata constructs (<title>, <meta>, <html lang>)
  are tracked, and rawtext bodies other than <title> are never sliced;
* the whole document is written while it is parsed: adjacent surviving
  text merges into runs (across UNWRAP tags, dropped subtrees, comments,
  rawtext and voids other than br/hr/img, as the converted tree's
  normalize merges it), each run goes straight into a `_TextBuilder`,
  spans are emitted as ``(start, end, path)`` tuples, and each surviving
  non-UNWRAP element applies its break, cell and path/<pre> scope
  effects at its open and close;
* the `extractor.select_main` cascade is decided on the way: the first
  <main>/[role=main], <article> and content-token element are noted at
  their start tags, and the text mass of every open div/section/td/
  blockquote is folded in O(1) per text from two counters (surviving
  text characters so far, end of the last non-whitespace character) and
  the candidate's first non-whitespace position — the quantity
  `extractor._stripped_masses` computes, entities counted as raw source.

Every root candidate records where its content starts and ends in the
pass's output.  The picked root's text is that slice, cut to what a
writer started at the root produces: the break and space parts before
its first content are dropped, the one-space lead prefix of that first
part is stripped (unless it is a <pre> part), the builder state is the
pass's state at the root's close, and the W5 marks are re-indexed; the
unchanged `_TextBuilder.finish` then lays it out in every writer mode.
Span paths lose the root's parent path.  The pass writes a root that
sits under a <pre> ancestor verbatim, a root writer writes it inline,
so for such a root the pass reruns with the <pre> state reset there.

Byte-identity with the object path — text, spans, title, description,
lang_attr, codes, n_nodes, truncated, ok, err — is pinned by
``tests/test_fastpath.py`` (full sf0.001 corpus differential + hostile
inputs + hypothesis random HTML, each in four writer modes).  Grammar
tables, regexes and the tag/attr caches are IMPORTED from `htmlparser`/
`extractor` so the two paths cannot drift silently; semantics citations
live there.  The object path remains the general API (mutation,
selectors, custom rules/hooks) and runs the W2 styles; this pass serves
every unstyled extraction, the W5 width/indent modes included.
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
from lexor_spark.kernel.textwriter import (_BLOCK_LEVEL, _CELL_TAGS, Span,
                                           _TextBuilder)

__all__ = ["fast_extract"]

# Fused start-tag cache: raw attr string -> (attr_drop, self_close,
# pick).  One dict hit per start tag; the attr parse, the _attr_drop
# regex and the cascade's attribute tests run once per distinct raw
# string ever.  ``pick`` bit 1: role="main"; bit 2: a content token in
# class/id.  The name-based DROP_TAGS check stays outside the cache.
_START_CACHE: dict = {}
_EMPTY_START = (0, False, 0)


def _start_tag(raw: str) -> tuple:
    """(attr_drop, self_close, pick) for a start tag's raw attr string —
    cache miss path (the hot loop inlines the `.get`)."""
    self_close = raw[-1] == "/"
    attrs = _parse_attrs(raw[:-1] if self_close else raw)
    pick = 0
    if attrs:
        if attrs.get("role") == "main":
            pick = 1
        token = attrs.get("class", "")
        idv = attrs.get("id")
        if idv:
            token = token + " " + idv
        if token and _CONTENT_TOKEN.search(token.lower()):
            pick |= 2
    ent = (1 if (attrs and _attr_drop(attrs)) else 0, self_close, pick)
    if len(_START_CACHE) < _ATTRS_CACHE_MAX:
        _START_CACHE[raw] = ent
    return ent


def _parse_attrs(raw: str) -> dict:
    """The object parser's attr grammar and first-occurrence rule,
    through its shared (read-only) parsed-attr cache."""
    attrs: dict = {}
    if raw and not raw.isspace():
        cached = _ATTRS_CACHE.get(raw)
        if cached is not None:
            return cached
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


_MASS_TAGS = frozenset(("div", "section", "td", "blockquote"))
# Per-spelling tag cache of the pass: the `htmlparser` tag info (name,
# kind, closers) plus the converter role (0 written, 1 UNWRAP, 2
# DROP_TAGS, 3 <html>), the writer's break level (-1: table cell) and
# cascade flags (1 <main>, 2 <article>, 4 mass candidate, 8 <pre>).
_PASS_INFO: dict[str, tuple] = {}


def _pass_info(raw: str) -> tuple:
    name, kind, closers = _hp._TAG_INFO.get(raw) or _hp._tag_info(raw)
    role = (3 if name == "html" else 2 if name in DROP_TAGS else
            1 if name in UNWRAP_TAGS else 0)
    level = _BLOCK_LEVEL.get(name, 0) or (-1 if name in _CELL_TAGS else 0)
    flags = ((name == "main") | (name == "article") << 1
             | (name in _MASS_TAGS) << 2 | (name == "pre") << 3)
    info = (name, kind, closers, role, level, flags)
    if len(_PASS_INFO) < _hp._TAG_INFO_MAX:
        _PASS_INFO[raw] = info
    return info


# root-candidate record slots: preorder ordinal, name, then at the open
# the output position (parts, spans), the span-path cut and whether a
# <pre> ancestor is open, the first non-whitespace text position (-1
# while unseen; None: not a mass candidate), and at the close the output
# position and the builder's trailing-space and pending-break state
_ORD, _NAME, _P0, _S0, _CUT, _PRE, _FIRST, _P1, _S1, _TRAIL, _PEND = \
    range(11)


class _Pass:
    """One page after the pass: the whole-document writer state, the
    picked root's record (None: the whole document), metadata, the
    diagnostic log and the node count.  ``len()`` is 0: the pass builds
    no node records."""

    __slots__ = ("text", "tb", "spans", "root", "meta", "log", "n_nodes")

    def __len__(self) -> int:
        return 0


def _pass(text: str, reset: int = 0) -> _Pass:
    """Parse, select and write ``text`` in one scan.  ``reset`` is the
    ordinal of a root whose subtree is written with <pre> state reset
    (0: none)."""
    n = len(text)
    log = _ALog(text)
    tb = _TextBuilder()
    parts = tb.parts
    add_inline = tb.add_inline
    request_break = tb.request_break
    spans: list = []
    span_append = spans.append
    # open elements: (name, pos) when the element writes nothing (UNWRAP,
    # dropped, inside a dropped subtree), else (name, pos, level, outer
    # path, outer in_pre, root record); level -1 is a table cell
    stack: list = [("#document", -1)]
    pop = stack.pop
    drop_at = 0          # stack depth of the open dropped root (0: none)
    texting = False      # the last construct was text (parser merge)
    count = 0            # node records the object parser would build
    path, in_pre = "#document", False
    run, run_s, run_e = "", 0, 0   # the merged text run being written
    title = desc = lang = None
    main = article = token = best = None
    best_mass = 0
    ordinal = 0
    # text-mass fold (until the first cascade hit): text characters
    # while a candidate is open, end of the last non-whitespace one, and
    # open candidates whose first non-whitespace position is unseen
    folding = True
    ncand = tot = last = 0
    unresolved: list = []
    search = _MASTER.search
    ent_match = _ENTITY.match
    tag_match = _TAG_NAME.match
    tag_info = _PASS_INFO
    start_cache = _START_CACHE
    caret = 0
    while True:
        m = search(text, caret)
        # a '<' or '&' that opens nothing stays in the text
        while m is not None and m.lastindex is None:
            i = m.start()
            if text[i] == "&":
                em = ent_match(text, i)
                if em is not None:
                    break
            else:
                nxt = text[i + 1: i + 2]
                if nxt == "!" or nxt == "?":
                    break
                if tag_match(text, i) is not None:
                    log.msg("W102", i)
            m = search(text, i + 1)
        i = n if m is None else m.start()
        if i > caret:
            if not texting:
                count += 1
                texting = True
            if not drop_at:
                d = text[caret:i]
                if run:
                    run += d
                else:
                    run, run_s = d, caret
                run_e = i
                if ncand:
                    r = len(d.rstrip())
                    if r:
                        if unresolved:
                            f = tot + len(d) - len(d.lstrip())
                            for c in unresolved:
                                c[_FIRST] = f
                            unresolved.clear()
                        last = tot + r
                    tot += len(d)
        if m is None or m.lastindex:
            # a tag or the end of input: close elements first
            if m is None:
                for e in stack[1:]:
                    log.msg("E100", e[1], (e[0],))
                keep = 1
            else:
                is_close, raw_name, raw = m.group(1, 2, 3)
                info = tag_info.get(raw_name)
                if info is None:
                    info = _pass_info(raw_name)
                name = info[0]
                caret = m.end()
                keep = len(stack)
                if is_close:
                    if stack[-1][0] == name:
                        keep -= 1
                    else:
                        # unbalanced-close slow path (W100/W101/silent)
                        keep = -1
                        for k in range(len(stack) - 1, 0, -1):
                            if stack[k][0] == name:
                                keep = k
                                break
                        if keep == -1:
                            # stray end tag: no node, nothing popped, and
                            # the text merge goes on (parser parity)
                            log.msg("W101", i, (name,))
                            continue
                        silent = SILENT_CONTAINER.get(name, ())
                        for k in range(len(stack) - 1, keep, -1):
                            forced = stack[k]
                            if forced[0] not in silent:
                                cl, cc = log.linecol(i)
                                log.msg("W100", forced[1],
                                        (forced[0], cl, cc))
                else:
                    closers = info[2]
                    if closers is not None:
                        while keep > 1 and stack[keep - 1][0] in closers:
                            keep -= 1
            while len(stack) > keep:
                e = pop()
                if len(e) > 2:
                    if run:
                        if (tb.add_verbatim(run) if in_pre
                                else add_inline(run)):
                            span_append((run_s, run_e, path))
                        run = ""
                    level, path, in_pre, rec = e[2:]
                    if rec is not None:
                        rec[_P1], rec[_S1] = len(parts), len(spans)
                        rec[_TRAIL], rec[_PEND] = \
                            tb.trailing_space, tb.pending
                        if folding and rec[_FIRST] is not None:
                            ncand -= 1
                            f = rec[_FIRST]
                            if f < 0:
                                unresolved.pop()
                            else:
                                mass = last - f
                                if mass > best_mass or (
                                        mass == best_mass and mass
                                        and rec[_ORD] < best[_ORD]):
                                    best, best_mass = rec, mass
                    if level > 0:
                        request_break(level)
                    elif level:
                        tb.add_space()
            if drop_at and len(stack) < drop_at:
                drop_at = 0
            if m is None:
                break
            texting = False
            if is_close:
                continue
            # start tag
            kind = info[1]
            count += 1
            if kind == 2:
                # rawtext: never written; only a <title> body is read
                pat = _RAWTEXT_CLOSE.get(name)
                if pat is None:
                    pat = _RAWTEXT_CLOSE[name] = re.compile(
                        "</" + name, re.IGNORECASE)
                cm = pat.search(text, caret)
                if cm is None:
                    if title is None and name == "title":
                        title = text[caret:]
                    log.msg("E100", i, (name,))
                    caret = n
                else:
                    j = cm.start()
                    if title is None and name == "title":
                        title = text[caret:j]
                    wm = _WS_GT.match(text, j + 2 + len(name))
                    caret = wm.end() if wm else j + 2 + len(name)
                continue
            if kind == 1:
                if name == "meta":
                    if desc is None:
                        attrs = _parse_attrs(
                            raw[:-1] if raw[-1:] == "/" else raw)
                        if attrs.get("name", "").lower() == "description":
                            desc = attrs.get("content", "").strip()
                elif drop_at:
                    pass
                elif name == "br" or name == "hr" or name == "img":
                    if run:
                        if (tb.add_verbatim(run) if in_pre
                                else add_inline(run)):
                            span_append((run_s, run_e, path))
                        run = ""
                    if name != "img":
                        request_break(1 if name == "br" else 2)
                continue
            role = info[3]
            if role == 3 and lang is None:
                lang = _parse_attrs(
                    raw[:-1] if raw[-1:] == "/" else raw).get("lang") or None
            if drop_at:
                if raw[-1:] != "/":
                    stack.append((name, i))
                continue
            if raw:
                ent = start_cache.get(raw)
                if ent is None:
                    ent = _start_tag(raw)
                adrop, self_close, pick = ent
            else:
                adrop, self_close, pick = _EMPTY_START
            if adrop or role == 2:
                if not self_close:
                    stack.append((name, i))
                    drop_at = len(stack)
                continue
            if role:
                if not self_close:
                    stack.append((name, i))
                continue
            # a surviving element: a merge boundary with its own effects
            if run:
                if tb.add_verbatim(run) if in_pre else add_inline(run):
                    span_append((run_s, run_e, path))
                run = ""
            ordinal += 1
            level, flags = info[4:]
            if level > 0:
                request_break(level)
            rec = None
            if main is None:
                slot = (1 if flags & 1 or pick & 1 else
                        2 if article is None and flags & 2 else
                        3 if token is None and pick & 2 else 0)
                if slot or (folding and flags & 4 and not self_close):
                    rec = [ordinal, name, len(parts), len(spans),
                           len(path) + 1, in_pre, None, 0, 0, False, 0]
                    if slot == 1:
                        main = rec
                    elif slot == 2:
                        article = rec
                    elif slot == 3:
                        token = rec
                    else:
                        rec[_FIRST] = -1
                        unresolved.append(rec)
                        ncand += 1
                    if slot:
                        folding, ncand = False, 0
            if self_close:
                if rec is not None:
                    rec[_P1], rec[_S1] = rec[_P0], rec[_S0]
                if level < 0:
                    tb.add_space()
                continue
            stack.append((name, i, level, path, in_pre, rec))
            path = path + "/" + name
            if ordinal == reset:
                in_pre = name == "pre"
            elif flags & 8:
                in_pre = True
            continue
        texting = False
        count += 1
        if text[i] == "&":
            caret = j = em.end()
            if not drop_at:
                if run:
                    if tb.add_verbatim(run) if in_pre else add_inline(run):
                        span_append((run_s, run_e, path))
                    run = ""
                if ncand:
                    if unresolved:
                        for c in unresolved:
                            c[_FIRST] = tot
                        unresolved.clear()
                    tot += j - i
                    last = tot
                if add_inline(_html.unescape(text[i:j])):
                    span_append((i, j, path))
            continue
        if text[i + 1] == "?":
            # processing instruction
            j = text.find("?>", i + 2)
            if j == -1:
                count -= 1
                log.msg("E100", i, ("#pi",))
                caret = n
            else:
                caret = j + 2
        elif text.startswith("<!--", i):
            j = text.find("-->", i + 4)
            if j == -1:
                log.msg("E100", i, ("#comment",))
                caret = n
            else:
                caret = j + 3
        elif _DOCTYPE.match(text, i):
            j = text.find(">", i + 9)
            if j == -1:
                count -= 1
                log.msg("E100", i, ("#doctype",))
                caret = n
            else:
                caret = j + 1
        elif text.startswith("<![CDATA[", i):
            j = text.find("]]>", i + 9)
            if j == -1:
                log.msg("E100", i, ("#cdata-section",))
                caret = n
            else:
                caret = j + 3
        else:
            # bogus comment: "<!" to '>'
            j = text.find(">", i + 2)
            if j == -1:
                log.msg("E100", i, ("#comment",))
                caret = n
            else:
                caret = j + 1
    if run:
        if tb.add_verbatim(run) if in_pre else add_inline(run):
            span_append((run_s, run_e, path))
    p = _Pass()
    p.text, p.tb, p.spans, p.log, p.n_nodes = text, tb, spans, log.log, \
        count + 1
    p.root = main or article or token or best
    meta = p.meta = {}
    if title is not None:
        meta["title"] = _META_WS.sub(" ", _html.unescape(title)).strip()
    if desc is not None:
        meta["description"] = desc
    if lang is not None:
        meta["lang"] = lang
    return p


def _slice(p: _Pass, rec: Optional[list], width: Optional[int],
           indent: str) -> tuple:
    """(text, span tuples) of root record ``rec``: the whole-document
    output (None), or the root's slice of it as a writer started at the
    root produces it."""
    if rec is None:
        return p.tb.finish(width, indent), p.spans
    if rec[_PRE] and rec[_NAME] != "pre":
        p = _pass(p.text, rec[_ORD])
        rec = p.root
    parts, marks = p.tb.parts, p.tb.marks
    a, b = rec[_P0], rec[_P1]
    while a < b and not parts[a].strip():
        a += 1                  # break/space parts before the content
    tb = _TextBuilder()
    if a < b:
        k0, k1 = bisect_left(marks, (a, 0)), bisect_left(marks, (b, 0))
        tb.marks = [(k - a, kind) for k, kind in marks[k0:k1]]
        first = parts[a]
        if first[0] == " " and marks[k0:k0 + 1] != [(a, 1)]:
            first = first[1:]   # the lead space after earlier content
        tb.parts = [first] + parts[a + 1:b]
        tb.has_content = True
        tb.trailing_space, tb.pending = rec[_TRAIL], rec[_PEND]
    if rec[_NAME] in _CELL_TAGS:
        tb.add_space()          # the root's own close
    # cut each distinct path once: spans of one scope share its string
    cut, cuts, spans = rec[_CUT], {}, []
    for s, e, q in p.spans[rec[_S0]:rec[_S1]]:
        r = cuts.get(q)
        if r is None:
            r = cuts[q] = q[cut:]
        spans.append((s, e, r))
    return tb.finish(width, indent), spans


def _parse_arrays(text: str) -> tuple:
    """The serial stage tracer's interface (`perfbench/stages.py`) times
    the kernel's four phases one by one: this pass (``(pass, log,
    skipped)``, no records built, so every node counts as skipped),
    `_collect_meta_arrays`, the root pick `_select_main_arrays` and the
    slice `_write_arrays` (with `Span` objects)."""
    p = _pass(text)
    return p, p.log, p.n_nodes - 1


def _collect_meta_arrays(p: _Pass) -> dict:
    return p.meta


def _select_main_arrays(p: _Pass) -> Optional[list]:
    return p.root


def _write_arrays(p: _Pass, root: Optional[list],
                  width: Optional[int] = None, indent: str = "") -> tuple:
    out, spans = _slice(p, root, width, indent)
    return out, [Span(*s) for s in spans]


def fast_extract(res, text: str, width: Optional[int] = None,
                 indent: str = "") -> None:
    """Fill an `ExtractResult` from the one-pass kernel in any W5 writer
    mode (``width``/``indent``); only W2 styles take the object path."""
    p = _pass(text)
    res.codes = [e.code for e in p.log]
    meta = p.meta
    res.title = meta.get("title")
    res.description = meta.get("description")
    res.lang_attr = meta.get("lang")
    res.n_nodes = p.n_nodes
    res.text, res.spans = _slice(p, p.root, width, indent)
