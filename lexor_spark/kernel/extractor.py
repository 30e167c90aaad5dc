"""Converter stage: rule-driven tree rewrite + main-content selection.

Clean-room reimplementation of the reference converter's semantics
(`/root/reference/lexor/core/converter.py` — iterative rewrite loop
`:331-376`, NodeConverter copy/copy_children contract `:30-76`, per-element
``normalize`` on the way up `:362`, style-level whole-document hook
`:215-216`), specialized to the extraction workload:

* A rule decides per node: ``COPY`` (clone, recurse), ``UNWRAP`` (hoist
  children, drop the element — the reference's copy=False/copy_children=True
  composition), or ``DROP`` (prune subtree — copy=False, which is how the
  reference deletes nav/script/ads).
* The style-level ``convert`` hook (reference `converter.py:215-216`)
  becomes :func:`select_main`: a deterministic cascade choosing the
  main-content subtree.
* The reference's process-global namespace (`converter.py:20-27,450-455`)
  and python-PI execution (`converter.py:394-447`) are deliberately absent:
  the kernel must be pure for deterministic resume at 10^12 documents.
"""

from __future__ import annotations

import html as _html
import re
from typing import Callable, Optional

from lexor_spark.kernel.dom import (
    Comment, Document, Element, Entity, Node, RawText, Text, Void,
)

__all__ = [
    "COPY", "UNWRAP", "DROP", "REPLACE", "convert", "extraction_decide",
    "select_main", "collect_meta", "DROP_TAGS", "UNWRAP_TAGS",
    "BOILERPLATE_RE",
]

COPY, UNWRAP, DROP, REPLACE = 0, 1, 2, 3

# Subtrees that never contain main content (converter rules with copy=False
# in reference terms, `converter.py:49-56`).
DROP_TAGS = frozenset(
    "script style noscript template nav header footer aside form iframe "
    "svg canvas object embed applet button select optgroup option label "
    "input textarea datalist dialog menu map area base link meta title "
    "video audio source track picture".split()
)

# Inline/wrapper tags hoisted away (copy_children without copy).
UNWRAP_TAGS = frozenset(
    "span font center small big b i u s strong em mark abbr cite q dfn "
    "sub sup ins del a time data wbr bdi bdo ruby rt rp html body head "
    "hgroup details summary".split()
)

# class/id tokens that flag boilerplate regions (the reference strips by
# class via get_elements_by_class_name, `elements.py:397-429`; the token
# list itself is this engine's rule-set, pinned by goldens).
BOILERPLATE_RE = re.compile(
    r"(?:^|[-_ ])(?:nav|navbar|menu|sidebar|side-bar|footer|header|banner|"
    r"breadcrumbs?|ads?|advert(?:isement)?s?|promo|sponsor(?:ed)?|social|"
    r"share|sharing|comments?|cookie|consent|gdpr|popup|modal|overlay|"
    r"related|widget|masthead|pagination|pager|subscribe|newsletter|"
    r"skip|tooltip|dropdown|login|signup|search)(?:$|[-_ ])"
)


# class/id-token verdict cache: crawl markup repeats the same class
# strings millions of times, so one dict hit replaces a lowercase
# allocation + regex search per element.  Bounded against hostile inputs.
_BOILER_CACHE: dict[str, bool] = {}
_BOILER_CACHE_MAX = 16384


def _attr_drop(attrs: dict) -> bool:
    """Attribute-level boilerplate tests shared by :func:`extraction_decide`
    and the array kernel's parse-time drop decision (single source of
    truth)."""
    token = attrs.get("class", "")
    idv = attrs.get("id")
    if idv:
        token = token + " " + idv
    if token:
        v = _BOILER_CACHE.get(token)
        if v is None:
            v = BOILERPLATE_RE.search(token.lower()) is not None
            if len(_BOILER_CACHE) < _BOILER_CACHE_MAX:
                _BOILER_CACHE[token] = v
        if v:
            return True
    role = attrs.get("role")
    if role in ("navigation", "banner", "complementary", "form",
                "search", "contentinfo"):
        return True
    return attrs.get("hidden") is not None or attrs.get("aria-hidden") == "true"


def extraction_decide(node: Node) -> int:
    """The extraction rule-set (reference style-module MAPPING analogue)."""
    cls = type(node)
    if cls is Text or cls is Entity:
        return COPY
    if cls is Element or cls is Document:
        name = node.name
        if name in DROP_TAGS:
            return DROP
        attrs = node.attrs
        if attrs and _attr_drop(attrs):
            return DROP
        if name in UNWRAP_TAGS:
            return UNWRAP
        return COPY
    # RawText (script/style/title bodies), Void non-drop (br/img/hr),
    # comments, doctype, PI, CDATA:
    if cls is Void:
        return COPY if node.name in ("br", "hr", "img") else DROP
    return DROP  # Comment / DocumentType / ProcessingInstruction / CData / RawText


def convert(doc: Document,
            decide: Callable[[Node], int] = extraction_decide,
            replacer: Optional[Callable[[Node], object]] = None,
            end_hook: Optional[Callable[[Node, Element], object]] = None,
            ) -> Document:
    """Rewrite ``doc`` into a new tree per the rule-set.

    Iterative DFS (the reference is iterative for the same reason:
    hostile real-web HTML nests deep, `converter.py:348-376`); each
    completed element is ``normalize``d on the way up exactly as the
    reference does (`converter.py:362`).

    Node replacement (the reference NodeConverter protocol,
    `converter.py:52-76`):

    * ``decide`` returning :data:`REPLACE` calls ``replacer(src_node)``;
      its result (a Node, a list of Nodes, or None) is spliced into the
      output in place of the node's subtree — e.g. an ``<img>`` becomes
      its alt-text Text node.
    * ``end_hook(src_element, dst_element)``, when given, is called
      after an element's children have been converted (the reference's
      ``end()`` slot, `converter.py:65-76`); returning a Node or list
      replaces the completed element in the output."""
    out = Document(doc.lang, doc.uri)
    out.meta.update(doc.meta)
    # Saved frames hold (source_children, resume_index, dst_element,
    # completing_pair); the current frame lives in locals so the
    # per-node loop touches no list.  ``completing`` is the (src, dst)
    # element pair this level is filling — None for UNWRAP levels, whose
    # exhaustion completes no element.
    frames: list[tuple] = []
    kids, i, dst = doc.children, 0, out
    completing: Optional[tuple] = None
    n = len(kids)
    while True:
        while i < n:
            node = kids[i]
            i += 1
            d = decide(node)
            if d == DROP:
                continue
            if d == REPLACE:
                rep = replacer(node) if replacer is not None else None
                if rep is not None:
                    for r in (rep if isinstance(rep, list) else [rep]):
                        if type(r) is Text:
                            dst.append_text(r.data, r.start, r.end)
                        else:
                            dst.append_child(r)
                continue
            cls = type(node)
            if cls is Text:
                dst.append_text(node.data, node.start, node.end)
                continue
            if cls is Entity:
                dst.append_child(Entity(node.data, node.start, node.end))
                continue
            if d == UNWRAP:
                ch = node.children
                if ch:
                    frames.append((kids, i, dst, completing))
                    kids, i, n = ch, 0, len(ch)
                    completing = None
            elif cls is Void:
                # attrs dict is shared, not copied: the converted tree never
                # mutates attrs, and the source tree is disposed right after
                v = Void(node.name, node.attrs)
                v.pos = node.pos
                dst.append_child(v)
            else:  # Element / Document, COPY
                el = Element(node.name, node.attrs)
                el.pos = node.pos
                dst.append_child(el)
                ch = node.children
                if ch:
                    frames.append((kids, i, dst, completing))
                    kids, i, dst = ch, 0, el
                    n = len(ch)
                    completing = (node, el)
                elif end_hook is not None:
                    _apply_end_hook(end_hook, node, el, dst)
        dst.normalize()
        if completing is not None and end_hook is not None:
            src_el, dst_el = completing
            parent = dst_el.parent
            if parent is not None:
                _apply_end_hook(end_hook, src_el, dst_el, parent)
        if not frames:
            break
        kids, i, dst, completing = frames.pop()
        n = len(kids)
    return out


def _apply_end_hook(end_hook, src_el: Node, dst_el: Element,
                    parent: Element) -> None:
    """Run the reference ``end()`` slot: a non-None return replaces the
    just-completed element (always the last child of ``parent`` at this
    point in the walk) in the output tree."""
    rep = end_hook(src_el, dst_el)
    if rep is None or rep is dst_el:
        return
    del parent.children[-1]
    dst_el.parent = None
    for r in (rep if isinstance(rep, list) else [rep]):
        if type(r) is Text:
            parent.append_text(r.data, r.start, r.end)
        else:
            parent.append_child(r)


_WS = re.compile(r"\s+")


def collect_meta(doc: Document) -> dict[str, str]:
    """Document metadata pulled from the *parsed* tree before boilerplate
    rules delete it: <title>, <meta name=description>, <html lang=...>.
    (Reference analogue: ``Document.meta`` open dict, `elements.py:527`.)"""
    meta: dict[str, str] = {}
    missing = 3  # title, description, lang — stop walking once all found
    for n in doc.iter():
        cls = type(n)
        if cls is RawText and n.name == "title" and "title" not in meta:
            meta["title"] = _WS.sub(" ", _html.unescape(n.data)).strip()
            missing -= 1
        elif cls is Void and n.name == "meta":
            if n.attrs.get("name", "").lower() == "description" and \
                    "description" not in meta:
                meta["description"] = n.attrs.get("content", "").strip()
                missing -= 1
        elif cls is Element and n.name == "html" and "lang" not in meta:
            lang = n.attrs.get("lang")
            if lang:
                meta["lang"] = lang
                missing -= 1
        if not missing:
            break
    return meta


# Main-content cascade: first hit wins; within one rule, document order
# wins.  Each entry is (predicate, description).
def _is_main(el: Element) -> bool:
    return el.name == "main" or el.attrs.get("role") == "main"


def _is_article(el: Element) -> bool:
    return el.name == "article"


_CONTENT_TOKEN = re.compile(
    r"(?:^|[-_ ])(?:content|main|article|post|entry|story|body|text)(?:$|[-_ ])"
)


def _has_content_token(el: Element) -> bool:
    token = el.attrs.get("class", "") if el.attrs else ""
    idv = el.attrs.get("id") if el.attrs else None
    if idv:
        token = token + " " + idv
    return bool(token) and bool(_CONTENT_TOKEN.search(token.lower()))


def _preorder(root: Element) -> list[Node]:
    """Preorder node list via an explicit stack — the generator version
    (``Node.iter``) pays a resume per node, measurable on the two
    whole-tree walks select_main does."""
    order: list[Node] = []
    stack: list[Node] = [root]
    pop = stack.pop
    append = order.append
    extend = stack.extend
    while stack:
        node = pop()
        append(node)
        kids = getattr(node, "children", None)
        if kids:
            extend(reversed(kids))
    return order


def _stripped_masses(root: Document) -> dict[int, int]:
    """len(el.text_content().strip()) for every element, in ONE bottom-up
    pass (the naive per-candidate walk is O(n²) and hangs on deep
    hostile nesting).  Each node folds to (total, lead_ws, trail_ws) of
    its concatenated Text/Entity payload; segments merge associatively:
    an all-whitespace prefix extends the leading run across children."""
    order = _preorder(root)  # preorder ⇒ reversed is children-first
    stats: dict[int, tuple[int, int, int]] = {}
    masses: dict[int, int] = {}
    for node in reversed(order):
        cls = type(node)
        if cls is Text or cls is Entity:
            d = node.data
            t = len(d)
            stats[id(node)] = (t, t - len(d.lstrip()), t - len(d.rstrip()))
        elif isinstance(node, Element) and not isinstance(node, RawText):
            total = lead = trail = 0
            for ch in node.children:
                s = stats.get(id(ch))
                if s is None or s[0] == 0:
                    continue
                ct, cl, ctr = s
                if lead == total:      # everything so far is whitespace
                    lead = total + cl
                total += ct
                trail = ct + trail if cl == ct else ctr
            stats[id(node)] = (total, lead, trail)
            masses[id(node)] = 0 if lead == total else total - lead - trail
        # RawText / Comment / other leaves contribute nothing (no entry)
    return masses


def select_main(converted: Document) -> Element:
    """Deterministic main-content selection (the style-level ``convert``
    hook slot, reference `converter.py:215-216`).

    Cascade: <main>/[role=main] → <article> → content-ish class/id →
    highest text-mass <div>/<section>/<td> → the whole converted tree."""
    # plain Elements only: Document (the root itself) was skipped by the
    # cascade anyway, Void/RawText were excluded, and nested Documents
    # cannot occur — so `type is Element` is the same predicate, faster
    elements = [n for n in _preorder(converted) if type(n) is Element]
    for pred in (_is_main, _is_article, _has_content_token):
        for el in elements:
            if el is converted:
                continue
            if pred(el):
                return el
    # Text-mass fallback: ties broken by document order (first wins).
    masses = _stripped_masses(converted)
    best: Optional[Element] = None
    best_mass = 0
    for el in elements:
        if el.name not in ("div", "section", "td", "blockquote"):
            continue
        mass = masses.get(id(el), 0)
        if mass > best_mass:
            best, best_mass = el, mass
    return best if best is not None else converted
