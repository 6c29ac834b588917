"""Boilerplate stripping: Boilerpipe/trafilatura-style block classification.

North-rule addition (/root/repo/BASELINE.json:6,14 — "boilerplate stripping via
text-density and link-density DOM heuristics"): the reference delegates whole-
document conversion to MarkItDown (/root/reference/app/main.py:383-391) and
keeps everything; a Common-Crawl-scale pipeline must instead retain only main
content. This module names the hard-boilerplate subtrees (nav/footer/ads …)
the DOM builder drops at parse time, and classifies the remaining text blocks
by *text density* (chars per 80-col wrapped line) and *link density* (anchor
chars / total chars).

All decisions use integer arithmetic (``3*anchor <= chars`` instead of float
ratios — SURVEY.md §7.4.2) so classification never flips across platforms and
golden outputs stay byte-stable.

Pure Python; no Spark imports.
"""

from __future__ import annotations

import re

from .html_dom import Node

# Subtrees dropped outright at parse time (never reach block extraction).
PRUNE_TAGS = frozenset(
    {
        "script", "style", "noscript", "template", "head", "title",
        "nav", "header", "footer", "aside", "form", "button", "input",
        "select", "option", "textarea", "iframe", "svg", "canvas",
        "object", "embed", "applet", "map", "dialog",
    }
)

# class/id tokens that mark hard boilerplate (matched on word boundaries).
_DENY_CLASS = re.compile(
    r"(?:^|[\s_-])(?:nav|navbar|menu|footer|header|masthead|sidebar|side"
    r"|ads?|advert(?:isement)?|sponsor(?:ed)?|cookie|consent|gdpr|banner"
    r"|social|share|sharing|comments?|related|recommend(?:ed|ations?)?"
    r"|widget|breadcrumbs?|promo|popup|modal|overlay|subscribe|newsletter"
    r"|pagination|pager|skip|toolbar|byline-tools)(?:$|[\s_-])"
)

# Ancestor tags that mark a block as main content.
MAIN_TAGS = frozenset({"main", "article"})

# Block-level elements that terminate a text block.
BLOCK_TAGS = frozenset(
    {
        "address", "article", "blockquote", "body", "center", "dd", "div",
        "dl", "dt", "fieldset", "figure", "figcaption", "h1", "h2", "h3",
        "h4", "h5", "h6", "hr", "li", "main", "ol", "p", "pre", "section",
        "table", "ul", "details", "summary",
    }
)

HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

# Minimum collapsed chars for an out-of-main content block to survive.
MIN_BLOCK_CHARS = 25
# Wrap width used for text-density lines (Boilerpipe uses word-wrapped lines).
WRAP_COLS = 80
# Minimum chars-per-wrapped-line (text density) for out-of-main blocks.
MIN_DENSITY = 10


def deny_attrs(tag: str, attrs: dict) -> bool:
    """True if an element's class/id marks it as hard boilerplate. The
    DOM builder calls this at parse time (the tag check is its
    ``suppress_tags``), so denied subtrees are never attached."""
    if "class" not in attrs and "id" not in attrs:
        return False
    blob = ((attrs.get("class") or "") + " " + (attrs.get("id") or "")).lower()
    return bool(blob.strip()) and bool(_DENY_CLASS.search(blob))


def text_and_anchor_stats(node: Node) -> tuple[str, int]:
    """(unnormalized concatenated text, collapsed chars of text under
    ``<a>`` elements) in ONE subtree traversal — the block builder needs
    both."""
    parts: list[str] = []
    anchors = 0
    stack = [(node, node.tag == "a")]
    while stack:
        n, in_a = stack.pop()
        if n.tag is None:
            parts.append(n.text)
            if in_a:
                anchors += len(collapse_ws(n.text))
            continue
        for c in reversed(n.children):
            stack.append((c, in_a or c.tag == "a"))
    return "".join(parts), anchors


_WS_RUN = re.compile(r"\s+")
# A string needs collapsing iff it has a 2+ whitespace run OR any whitespace
# char that isn't a plain space (\s is unicode-aware, so this covers \xa0 &c).
_WS_DIRTY = re.compile(r"\s\s|[^\S ]")


def collapse_ws(text: str) -> str:
    """Collapse whitespace runs to single spaces (no strip)."""
    if _WS_DIRTY.search(text) is None:
        return text  # already collapsed — skip the allocating sub()
    return _WS_RUN.sub(" ", text)


def wrapped_lines(chars: int) -> int:
    """Number of WRAP_COLS-wrapped lines a run of ``chars`` occupies (>=1)."""
    return max(1, (chars + WRAP_COLS - 1) // WRAP_COLS)


def keep_block(kind: str, chars: int, anchors: int, in_main: bool) -> bool:
    """Density decision for one content block.

    ``kind`` is the block's structural class: ``heading`` blocks are decided
    separately (kept iff their section has kept content — see serializer);
    this function handles ``text`` / ``list`` / ``table`` / ``pre`` /
    ``quote`` blocks.

    Integer-only math: link density ≤ 1/3 is ``3*anchors <= chars``; main
    content tolerates up to 2/3 (``3*anchors <= 2*chars``).
    """
    if chars <= 0:
        return False
    if in_main:
        return 3 * anchors <= 2 * chars
    if kind in ("pre", "table", "quote"):
        return chars >= MIN_BLOCK_CHARS and 3 * anchors <= chars
    # text / list blocks outside main: size + link density + text density
    if chars < MIN_BLOCK_CHARS:
        return False
    if 3 * anchors > chars:
        return False
    return chars >= MIN_DENSITY * wrapped_lines(chars)
