"""Density-based main-content block classification (jusText-style).

The rule/tag-driven converter (`kernel/extractor.py`) strips
boilerplate by WHERE it sits (nav/footer tags, class tokens); this
module is the complementary DOM heuristic the north rule names: blocks
are classified by HOW their text reads — link density, stop-word
density, length — following the published jusText algorithm (Pomikálek
2011, "Removing boilerplate and duplicate content from web corpora",
ch. 3; reference implementation behavior at
https://github.com/miso-belica/jusText, reimplemented here from the
published description, not copied).  The two extractors disagree
exactly where a corpus-quality pipeline wants a second opinion:
link-dense "related articles" paragraphs inside <main>, or real prose
inside an unfortunately-classed <div id="footer-like">.

Pipeline shape: pure per-document kernel code (parse once, one DFS to
segment blocks, O(blocks) classification), exposed corpus-wide through
``job.extract_density`` — the same fused exchange + mapInArrow plan as the
main extraction job, map-only at any corpus size.

Stages, per the paper:

1. **Segmentation** — the DOM is cut into text blocks at block-level
   element boundaries; script/style/template/iframe/svg subtrees and
   comments/raw-text vanish; ``<a>`` descendants accumulate link chars;
   ``h1-h6`` mark heading blocks.
2. **Context-free classification** — each block gets
   good / near-good / short / bad from link density, copyright marks,
   length bands (LENGTH_LOW/HIGH) and stop-word density bands
   (STOPWORDS_LOW/HIGH).
3. **Heading promotion** — a short heading within
   MAX_HEADING_DISTANCE chars of a context-free good block becomes
   near-good (the paper's pre-revision heading pass).
4. **Context-sensitive revision** — short and near-good blocks take
   their final class from the nearest decided neighbours (the paper's
   revise step, including the near-good-edge rule).

Determinism: pure function of the input bytes; thresholds are module
constants; the English stop list is pinned below (jusText ships
per-language lists — this is the 'en' profile, and the scoring treats
an unknown-language page conservatively: no stop words means prose
never reaches near-good by density, only headings/revision can save
it, which matches jusText's 'stoplist miss' behavior).
"""

from __future__ import annotations

import html as _html
from dataclasses import dataclass, field
from typing import List

from lexor_spark.kernel.dom import Comment, Entity, RawText, Text

__all__ = ["Block", "segment_blocks", "classify_blocks",
           "extract_density", "GOOD", "BAD", "SHORT", "NEARGOOD",
           "LENGTH_LOW", "LENGTH_HIGH", "STOPWORDS_LOW",
           "STOPWORDS_HIGH", "MAX_LINK_DENSITY", "MAX_HEADING_DISTANCE",
           "STOP_WORDS"]

# jusText default thresholds (Pomikálek 2011 §3.4, library defaults)
LENGTH_LOW = 70
LENGTH_HIGH = 200
STOPWORDS_LOW = 0.30
STOPWORDS_HIGH = 0.32
MAX_LINK_DENSITY = 0.2
MAX_HEADING_DISTANCE = 200

GOOD, BAD, SHORT, NEARGOOD = "good", "bad", "short", "neargood"

# Pinned 'en' stop list (top function words; jusText's per-language
# lists are much longer — length only shifts the density estimate,
# the bands are calibrated for "common function words").
STOP_WORDS = frozenset("""
a about after all also an and any are as at be because been but by can
could did do for from had has have he her his how i if in into is it
its just like more most my no not now of on one only or other our out
over she so some than that the their them then there these they this
to up us very was we were what when which who will with would you your
""".split())

BLOCK_TAGS = frozenset(
    "address article aside blockquote body caption center col colgroup "
    "dd div dl dt fieldset figure figcaption footer form h1 h2 h3 h4 h5 "
    "h6 header hr legend li main menu nav ol p pre section table td th "
    "thead tbody tfoot tr ul".split())

SKIP_TAGS = frozenset(
    "script style noscript template iframe svg canvas object embed "
    "applet select option optgroup datalist head title".split())

HEADING_TAGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))


@dataclass
class Block:
    idx: int
    text: str
    n_link_chars: int
    heading: bool
    cf_class: str = ""          # context-free class (stage 2-3)
    cls: str = ""               # final class (stage 4)
    words: List[str] = field(default_factory=list, repr=False)

    @property
    def n_chars(self) -> int:
        return len(self.text)

    @property
    def link_density(self) -> float:
        return self.n_link_chars / self.n_chars if self.n_chars else 0.0

    @property
    def stop_density(self) -> float:
        if not self.words:
            return 0.0
        n = sum(1 for w in self.words
                if w.strip(".,;:!?\"'()[]").lower() in STOP_WORDS)
        return n / len(self.words)


def segment_blocks(doc) -> List[Block]:
    """Cut the parsed DOM into text blocks (stage 1)."""
    blocks: List[Block] = []
    parts: List[str] = []
    link_parts: List[str] = []
    saw_heading = False

    def flush() -> None:
        nonlocal parts, link_parts, saw_heading
        text = " ".join("".join(parts).split())
        if text:
            link_chars = len(" ".join("".join(link_parts).split()))
            blocks.append(Block(len(blocks), text,
                                min(link_chars, len(text)), saw_heading))
        parts = []
        link_parts = []
        saw_heading = False

    link_depth = 0
    head_depth = 0
    stack = [(doc, False)]
    while stack:
        node, closing = stack.pop()
        if closing:
            name = node.name
            if name == "a":
                link_depth -= 1
            elif name in HEADING_TAGS:
                head_depth -= 1
            if name in BLOCK_TAGS:
                flush()
            continue
        cls = type(node)
        if cls is Text or cls is Entity:
            data = node.data if cls is Text else _html.unescape(node.data)
            if data:
                parts.append(data)
                if link_depth > 0:
                    link_parts.append(data)
                if head_depth > 0:
                    saw_heading = True
            continue
        if cls is Comment or cls is RawText:
            continue
        name = node.name
        if name in SKIP_TAGS:
            continue
        if name in BLOCK_TAGS:
            flush()
        if name == "a":
            link_depth += 1
        elif name in HEADING_TAGS:
            head_depth += 1
        stack.append((node, True))
        kids = getattr(node, "children", None)
        if kids:
            stack.extend((k, False) for k in reversed(kids))
    flush()
    for b in blocks:
        b.words = b.text.split()
    return blocks


def _classify_context_free(b: Block) -> str:
    """Stage 2 — the paper's decision list, in its order."""
    if b.link_density > MAX_LINK_DENSITY:
        return BAD
    if "\xa9" in b.text or "©" in b.text:
        return BAD
    if b.n_chars < LENGTH_LOW:
        return BAD if b.n_link_chars > 0 else SHORT
    if b.stop_density >= STOPWORDS_HIGH:
        return GOOD if b.n_chars > LENGTH_HIGH else NEARGOOD
    if b.stop_density >= STOPWORDS_LOW:
        return NEARGOOD
    return BAD


def _neighbour(blocks: List[Block], i: int, step: int,
               ignore_neargood: bool) -> str:
    """Nearest decided neighbour class in one direction (revise step
    helper); BAD at the document edge, per the paper."""
    j = i + step
    while 0 <= j < len(blocks):
        c = blocks[j].cf_class
        if c in (GOOD, BAD):
            return c
        if c == NEARGOOD and not ignore_neargood:
            return c
        j += step
    return BAD


def classify_blocks(doc) -> List[Block]:
    """Stages 1-4: segmented blocks with final good/bad classes."""
    blocks = segment_blocks(doc)
    for b in blocks:
        b.cf_class = _classify_context_free(b)

    # stage 3 — heading promotion: a short heading close (in chars)
    # before a context-free good block becomes near-good
    for i, b in enumerate(blocks):
        if not (b.heading and b.cf_class == SHORT):
            continue
        dist = 0
        for nxt in blocks[i + 1:]:
            if nxt.cf_class == GOOD:
                b.cf_class = NEARGOOD
                break
            dist += nxt.n_chars
            if dist > MAX_HEADING_DISTANCE:
                break

    # stage 4 — context-sensitive revision
    for i, b in enumerate(blocks):
        if b.cf_class == SHORT:
            prev = _neighbour(blocks, i, -1, ignore_neargood=True)
            nxt = _neighbour(blocks, i, +1, ignore_neargood=True)
            if prev == GOOD and nxt == GOOD:
                b.cls = GOOD
            elif prev == BAD and nxt == BAD:
                b.cls = BAD
            # the near-good-edge rule: short content at the boundary of
            # a good region whose far side fades through near-good
            elif ((prev == BAD and _neighbour(blocks, i, -1,
                                              ignore_neargood=False)
                   == NEARGOOD) or
                  (nxt == BAD and _neighbour(blocks, i, +1,
                                             ignore_neargood=False)
                   == NEARGOOD)):
                b.cls = GOOD
            else:
                b.cls = BAD
        elif b.cf_class == NEARGOOD:
            prev = _neighbour(blocks, i, -1, ignore_neargood=True)
            nxt = _neighbour(blocks, i, +1, ignore_neargood=True)
            b.cls = BAD if (prev == BAD and nxt == BAD) else GOOD
        else:
            b.cls = b.cf_class
    return blocks


def extract_density(html, url: str = "") -> "DensityResult":
    """Parse + classify + join good blocks — the per-document density
    extractor (the job-facing entry point)."""
    from lexor_spark.kernel.dom import dispose
    from lexor_spark.kernel.encoding import decode_html
    from lexor_spark.kernel.htmlparser import parse_html
    doc = None
    try:
        doc, _ = parse_html(decode_html(html or b"")[0], url)
        blocks = classify_blocks(doc)
    finally:
        if doc is not None:
            dispose(doc)
    good = [b.text for b in blocks if b.cls == GOOD]
    return DensityResult("\n".join(good), len(blocks), len(good))


@dataclass
class DensityResult:
    text: str
    n_blocks: int
    n_good: int
