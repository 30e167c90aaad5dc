"""Writer stage: converted DOM subtree → (text, spans).

Clean-room reimplementation of the reference writer's semantics
(`/root/reference/lexor/core/writer.py` — DFS emit loop `:482-516`,
NodeWriter start/data/child/end contract `:54-99`, modal raw/indent/wrap
buffer engine `:233-346`), specialized to plain-text extraction:

* the reference's ``endl(force=False)`` collapse rule (`writer.py:338-346`:
  don't emit a newline if one was just emitted) generalizes here to
  *pending-break levels* — block boundaries request a break of level 1
  (line) or 2 (paragraph); consecutive requests collapse to the max, and
  breaks are materialized lazily only when more content arrives.  This is
  what makes output byte-deterministic regardless of how many nested empty
  blocks appear.
* the reference's raw mode (`writer.py:321-327`) maps to ``<pre>`` handling:
  whitespace inside ``<pre>`` is preserved verbatim.
* entity decoding uses the reference's one-pass-substitution idea
  (`writer.py:19-39`) via the stdlib ``html.unescape`` (public API).

Spans: every Text/Entity node that contributes visible output records
``(start, end, path)`` — character offsets into the *source* document and
the '/'-joined element path from the selected root — the columnar analogue
of the reference's per-node ``pos`` contract (`parser.py:46-50`).
"""

from __future__ import annotations

import html as _html
import re
from typing import Optional

from lexor_spark.kernel.dom import Element, Entity, RawText, Text, Void

__all__ = ["write_text", "Span"]

_WS = re.compile(r"\s+")

# Block boundary levels (0 = inline).
_PARA = 2
_LINE = 1
_BLOCK_LEVEL: dict[str, int] = {
    "p": _PARA, "h1": _PARA, "h2": _PARA, "h3": _PARA, "h4": _PARA,
    "h5": _PARA, "h6": _PARA, "blockquote": _PARA, "pre": _PARA,
    "div": _PARA, "section": _PARA, "article": _PARA, "main": _PARA,
    "figure": _PARA, "figcaption": _PARA, "caption": _PARA, "table": _PARA,
    "ul": _PARA, "ol": _PARA, "dl": _PARA, "address": _PARA,
    "fieldset": _PARA, "hr": _PARA,
    "li": _LINE, "dt": _LINE, "dd": _LINE, "tr": _LINE, "br": _LINE,
}
# td/th cells are inline but separated by a single space via the
# cell-boundary rule below.
_CELL_TAGS = frozenset(("td", "th"))


class Span:
    __slots__ = ("start", "end", "path")

    def __init__(self, start: int, end: int, path: str) -> None:
        self.start = start
        self.end = end
        self.path = path

    def as_tuple(self) -> tuple[int, int, str]:
        return (self.start, self.end, self.path)

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Span({self.start},{self.end},{self.path!r})"


class _TextBuilder:
    """Pending-break text accumulator (the writer buffer engine)."""

    __slots__ = ("parts", "pending", "has_content", "trailing_space",
                 "marks")

    def __init__(self) -> None:
        self.parts: list[str] = []
        self.pending = 0          # break level owed before next content
        self.has_content = False
        self.trailing_space = False
        # sparse annotations for the opt-in wrap path: (part_index, kind)
        # kind 1 = verbatim (<pre>) part, 2 = break part — the default
        # result() never reads them, so the hot path stays unchanged
        self.marks: list[tuple[int, int]] = []

    def request_break(self, level: int) -> None:
        if self.has_content and level > self.pending:
            self.pending = level

    def _flush_break(self) -> None:
        if self.pending:
            if self.trailing_space:
                # trailing inline space is discarded at a block boundary
                self.parts[-1] = self.parts[-1].rstrip(" ")
                self.trailing_space = False
            self.marks.append((len(self.parts), 2))
            self.parts.append("\n" if self.pending == 1 else "\n\n")
            self.pending = 0

    def add_inline(self, s: str) -> bool:
        """Whitespace-collapsed inline emission; returns True if any
        visible character was produced (drives span recording)."""
        if not s:
            return False
        lead = s[0].isspace() or s[0] == "\xa0"
        trail = s[-1].isspace() or s[-1] == "\xa0"
        words = s.split()
        if not words:
            # whitespace-only: becomes a single tentative space
            if self.has_content and not self.trailing_space and not self.pending:
                self.parts.append(" ")
                self.trailing_space = True
            return False
        self._flush_break()
        body = " ".join(words)
        if lead and self.has_content and not self.trailing_space:
            body = " " + body
        self.parts.append(body)
        self.has_content = True
        self.trailing_space = False
        if trail:
            self.parts.append(" ")
            self.trailing_space = True
        return True

    def add_space(self) -> None:
        """Cell-boundary separator (single space, never doubled)."""
        if self.has_content and not self.trailing_space and not self.pending:
            self.parts.append(" ")
            self.trailing_space = True

    def add_verbatim(self, s: str) -> bool:
        """<pre> raw emission (reference raw mode, writer.py:321-327)."""
        s = s.lstrip("\n").rstrip()
        if not s.strip():
            return False
        self._flush_break()
        if self.trailing_space:
            self.parts[-1] = self.parts[-1].rstrip(" ")
            self.trailing_space = False
        self.marks.append((len(self.parts), 1))
        self.parts.append(s)
        self.has_content = True
        return True

    def result(self) -> str:
        if self.trailing_space:
            self.parts[-1] = self.parts[-1].rstrip(" ")
        return "".join(self.parts)

    def result_wrapped(self, width: int, indent: str) -> str:
        """Re-emit through the W5 wrap/indent engine (opt-in; reference
        `writer.py:233-346`): prose wraps at ``width`` with ``indent``
        per line, <pre> parts pass through raw, breaks go through
        ``endl`` so the engine sees real line boundaries."""
        from lexor_spark.kernel.wrapwriter import WrapWriter
        if self.trailing_space:
            self.parts[-1] = self.parts[-1].rstrip(" ")
            self.trailing_space = False
        kinds = dict(self.marks)
        ww = WrapWriter(width=width, indent=indent)
        ww.enable_wrap()
        for k, part in enumerate(self.parts):
            kind = kinds.get(k, 0)
            if kind == 2:  # block break
                ww.flush(tail=False)
                ww.write(part)
            elif kind == 1:  # verbatim <pre> payload
                ww.enable_raw()
                if indent:
                    part = "\n".join(indent + ln if ln else ln
                                     for ln in part.split("\n"))
                ww.write(part)
                ww.disable_raw()
            else:
                ww.write(part)
        return ww.getvalue()

    def finish(self, width: Optional[int], indent: str) -> str:
        """The W5 layout step that ends every writer: the raw result,
        the raw result with ``indent`` prefixed to each non-empty line
        (reference indent mode with wrap off, `writer.py:248-258`), or
        :meth:`result_wrapped` when a ``width`` is given."""
        if width is not None:
            return self.result_wrapped(width, indent)
        out = self.result()
        if indent:
            out = "\n".join(indent + ln if ln else ln
                            for ln in out.split("\n"))
        return out


def write_text(root: Element, width: Optional[int] = None,
               indent: str = "", pre_process=None,
               post_process=None, rules: Optional[dict] = None
               ) -> tuple[str, list[Span]]:
    """Serialize the selected subtree to plain text + source spans.

    Iterative DFS with explicit open/close events (the reference writer's
    start/child/end protocol, `writer.py:482-516`), recursion-free for
    hostile nesting depth.

    ``width``/``indent`` switch on the W5 wrap/indent engine (reference
    `writer.py:233-346`): prose lines wrap at ``width`` columns with
    whitespace backtracking, every line gets the ``indent`` prefix, and
    ``<pre>`` payloads stay raw.  The default (no width, no indent) path
    is byte-identical to round 1 — the extraction oracle pins it.
    Spans always carry SOURCE offsets, so wrapping does not move them.

    ``pre_process(builder, root)`` / ``post_process(builder, root)`` are
    the writer's W2 hook slots (reference `writer.py:395-400`: called
    around ``_write``); the post hook still sees the builder before the
    final result string is assembled.

    ``rules`` is the W2 NodeWriter registry (``writerrules.WriterRule``
    keyed by node name, reference `writer.py:54-99`): a matching rule
    REPLACES the built-in handling for that tag — its ``start``/``end``
    write via the builder, ``child`` gates descent, ``data`` (keys
    ``#text``/``#entity``) may claim character nodes.  Rule-emitted
    output carries no source span (it is style text, not document
    text).  Absent/empty registry takes the pre-registry code path —
    the extraction oracle pins those bytes."""
    tb = _TextBuilder()
    spans: list[Span] = []
    if pre_process is not None:
        pre_process(tb, root)
    add_inline = tb.add_inline
    request_break = tb.request_break
    span_append = spans.append
    block_level = _BLOCK_LEVEL.get
    has_rules = bool(rules)
    text_rule = rules.get("#text") if has_rules else None
    entity_rule = rules.get("#entity") if has_rules else None
    # Stack items: (node, path, in_pre) visit events, or (None, level, 0)
    # close events with level<0 meaning a cell-space boundary.  Close
    # events are pushed only for elements whose close *does* something —
    # inline elements close silently, so they skip the event entirely.
    # Rule close events are (None, rule, node): the level slot carries
    # the WriterRule instead of an int.
    stack: list[tuple] = [(root, "", root.name == "pre")]
    while stack:
        node, path, in_pre = stack.pop()
        if node is None:  # close event; path carries the break level
            if type(path) is int:
                if path < 0:
                    tb.add_space()
                else:
                    request_break(path)
            else:
                path.end(tb, in_pre)  # rule close: in_pre slot = node
            continue
        cls = type(node)
        if cls is Text:
            if text_rule is not None and text_rule.data(tb, node):
                continue
            if in_pre:
                if tb.add_verbatim(node.data) and node.start >= 0:
                    span_append(Span(node.start, node.end, path))
            else:
                if add_inline(node.data) and node.start >= 0:
                    span_append(Span(node.start, node.end, path))
            continue
        if cls is Entity:
            if entity_rule is not None and entity_rule.data(tb, node):
                continue
            decoded = _html.unescape(node.data)
            if add_inline(decoded) and node.start >= 0:
                span_append(Span(node.start, node.end, path))
            continue
        if cls is Void:
            name = node.name
            if has_rules and name in rules:
                r = rules[name]
                r.start(tb, node)
                r.end(tb, node)
                continue
            if name == "br":
                request_break(_LINE)
            elif name == "hr":
                request_break(_PARA)
            continue
        if cls is RawText:
            continue  # script/style bodies never reach output
        if not isinstance(node, Element):
            continue
        name = node.name
        if has_rules and name in rules:
            r = rules[name]
            r.start(tb, node)
            stack.append((None, r, node))
            if r.child(node):
                child_path = path + "/" + name if path else name
                child_pre = in_pre or name == "pre"
                for child in reversed(node.children):
                    stack.append((child, child_path, child_pre))
            continue
        level = block_level(name, 0)
        if level:
            request_break(level)
            stack.append((None, level, 0))
        elif name in _CELL_TAGS:
            stack.append((None, -1, 0))
        child_path = path + "/" + name if path else name
        child_pre = in_pre or name == "pre"
        # children in reverse so they pop in document order
        for child in reversed(node.children):
            stack.append((child, child_path, child_pre))
    if post_process is not None:
        post_process(tb, root)
    return tb.finish(width, indent), spans
