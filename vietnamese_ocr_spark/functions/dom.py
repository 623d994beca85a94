"""DOM-tree main-content extraction (north_rule: "DOM heuristics").

The flat densitometric extractor (functions/text.py extract_main_content)
splits on block tags with regexes — fast, JVM-side, but structure-blind:
a <nav> nested inside a content <div> survives it, and link density is
measured per flat block, not per element. This module adds the tree-aware
variant: a tolerant HTML parser builds an element tree, structural chrome
subtrees (nav/aside/header/footer/script/style/form/noscript plus
role=navigation) are dropped WITH their descendants, and each block-level
element is scored by its own direct text and the link density of its
subtree — the classic DOM-heuristic readability recipe.

Pure Python on purpose: a DOM cannot be expressed in Catalyst
expressions, so the Spark surface is an Arrow-batched mapInArrow stage
(operators/textstats.py dom_main_content_stage) — the sanctioned
escape hatch, never per-row Python UDFs. The parser is deliberately
tolerant (unclosed tags, stray closers, attribute soup) because crawl
HTML is never well-formed.
"""

from __future__ import annotations

import re

_VOID = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}
_DROP = {
    "script", "style", "nav", "aside", "header", "footer",
    "form", "noscript", "template", "iframe", "svg",
}
_BLOCK = {
    "p", "div", "article", "section", "main", "li", "td", "th",
    "blockquote", "pre", "h1", "h2", "h3", "h4", "h5", "h6",
    # containers: scored as blocks so ancestors never re-swallow their
    # text (own_content excludes nested BLOCK descendants)
    "html", "body", "ul", "ol", "table", "thead", "tbody", "tr", "figure",
}

_TOKEN_RE = re.compile(r"<!--.*?-->|<[^>]*>|[^<]+", re.S)
_TAG_NAME_RE = re.compile(r"</?\s*([a-zA-Z][a-zA-Z0-9-]*)")
_ROLE_NAV_RE = re.compile(r"""role\s*=\s*["']?(?:navigation|banner|contentinfo)""", re.I)
_WS_RE = re.compile(r"\s+")


class Node:
    __slots__ = ("tag", "dropped", "children", "direct_text", "is_link")

    def __init__(self, tag: str, dropped: bool = False, is_link: bool = False):
        self.tag = tag
        self.dropped = dropped
        self.is_link = is_link
        self.children: list[Node] = []
        self.direct_text: list[str] = []


def parse_html(text: str) -> Node:
    """Tolerant tag-soup parser -> element tree rooted at a synthetic
    <root>. Unknown/unclosed/mismatched tags never raise: a closer pops
    to the nearest matching open element or is ignored."""
    root = Node("root")
    stack = [root]
    for m in _TOKEN_RE.finditer(text):
        tok = m.group(0)
        if tok.startswith("<!--"):
            continue
        if tok.startswith("<"):
            nm = _TAG_NAME_RE.match(tok)
            if not nm:
                continue  # <!doctype>, <?xml?>, garbage
            tag = nm.group(1).lower()
            if tok.startswith("</"):
                for i in range(len(stack) - 1, 0, -1):
                    if stack[i].tag == tag:
                        del stack[i:]
                        break
                continue
            dropped = tag in _DROP or bool(_ROLE_NAV_RE.search(tok))
            node = Node(tag, dropped=dropped, is_link=(tag == "a"))
            stack[-1].children.append(node)
            if tag not in _VOID and not tok.endswith("/>"):
                stack.append(node)
        else:
            stack[-1].direct_text.append(tok)
    return root


def _subtree_text(node: Node) -> tuple[str, int]:
    """(all text under node, chars of text under <a> descendants) —
    dropped subtrees contribute nothing."""
    if node.dropped:
        return "", 0
    text = " ".join(node.direct_text)
    link = len(_WS_RE.sub(" ", text).strip()) if node.is_link else 0
    for c in node.children:
        t, lk = _subtree_text(c)
        text += " " + t
        link += len(_WS_RE.sub(" ", t).strip()) if node.is_link else lk
    return text, link


def dom_main_content(
    text: str, min_block_len: int = 20, max_link_density: float = 0.4
) -> str:
    """Tree-aware main-content extraction: parse, drop chrome subtrees,
    then keep block-level elements whose OWN content (subtree text minus
    nested block descendants) is long enough and link-sparse enough.
    Blocks emit in document order; nested kept blocks are not
    double-counted (a block's nested block children are extracted
    independently)."""
    root = parse_html(text)
    out: list[str] = []

    def own_content(node: Node) -> tuple[str, int]:
        """Text of node excluding nested BLOCK descendants (those are
        scored on their own) and dropped subtrees."""
        parts = [" ".join(node.direct_text)]
        link = 0
        for c in node.children:
            if c.dropped or c.tag in _BLOCK:
                continue
            t, lk = _subtree_text(c)
            parts.append(t)
            link += lk
        joined = _WS_RE.sub(" ", " ".join(parts)).strip()
        return joined, link

    def walk(node: Node) -> None:
        if node.dropped:
            return
        if node.tag in _BLOCK or node.tag == "root":
            txt, link = own_content(node)
            if len(txt) >= min_block_len and link <= max_link_density * len(txt):
                out.append(txt)
        for c in node.children:
            walk(c)

    walk(root)
    return " ".join(out)
