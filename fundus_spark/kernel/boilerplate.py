"""Generic DOM-heuristic boilerplate stripping (no publisher rules).

The north star calls for a "batched tokenize+classify of DOM nodes into
content/boilerplate" path alongside the rule-driven extractors — the
fallback for documents with no known publisher. This is a
jusText/BTE-inspired block classifier (cf. Pomikálek 2011, "Removing
boilerplate and duplicate content from web corpora" — the jusText
evaluation the reference's README benchmarks against):

1. **Tokenize** the DOM into block candidates: block-level elements
   whose children are inline-only (a ``<div>`` of ``<p>``s is a
   container, not a block).
2. **Featurize** each block: char/word counts, link density (chars
   under ``<a>`` / total), stopword density over a small multilingual
   function-word list, tag kind.
3. **Classify**: headings attach to the following block; short or
   link-heavy blocks are boilerplate; long low-link blocks are
   content; medium blocks are content only when low-link (standalone
   approximation of jusText's neighbor pass, kept deterministic).

Everything is pure Python over the from-scratch DOM — runs as a row
generator on the Arrow boundary (``operators.adaptive.map_rows``) like
the rule-driven kernel.
"""

from __future__ import annotations

import re
from typing import Any, Dict, List, Optional

from .dom import Comment, Element, parse_html
from .text import normalize_whitespace

__all__ = ["classify_blocks", "extract_main_text", "BLOCK_TAGS"]

BLOCK_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li td th blockquote pre dd dt figcaption summary article section div "
    "nav footer header aside form menu".split()
)
_CONTAINER_SHIELD = frozenset("nav footer header aside form menu".split())
_SKIP_SUBTREES = frozenset("script style noscript svg template iframe".split())

_STOPWORDS = frozenset(
    # en + de + es + fr function words — enough signal for density
    "the a an of and to in is it that was for on are as with his they at be this have from or one had by word "
    "der die das und ist ein eine zu den von mit im für auf des sich nicht "
    "el la de que y en un una es se no los las por con para "
    "le la les des un une et est dans que pour sur pas plus".split()
)

_WORD_RE = re.compile(r"\w+", re.UNICODE)


def _is_block_candidate(el: Element) -> bool:
    if el.tag not in BLOCK_TAGS or isinstance(el, Comment):
        return False
    # container (has block-level element children) -> not a leaf block
    return not any(
        isinstance(c, Element) and not isinstance(c, Comment) and c.tag in BLOCK_TAGS for c in el.children
    )


def _link_chars(el: Element) -> int:
    total = 0
    for node in el.iter():
        if isinstance(node, Element) and node.tag == "a":
            total += len(node.text_content())
    return total


def _in_shielded_container(el: Element) -> bool:
    return el.tag in _CONTAINER_SHIELD or any(anc.tag in _CONTAINER_SHIELD for anc in el.iterancestors())


def _in_skipped_subtree(el: Element) -> bool:
    return any(anc.tag in _SKIP_SUBTREES for anc in el.iterancestors())


def classify_blocks(
    doc: Element,
    min_words_content: int = 10,
    min_words_maybe: int = 4,
    max_link_density: float = 0.3,
    max_link_density_maybe: float = 0.2,
) -> List[Dict[str, Any]]:
    """Ordered block records: ``{text, tag, n_chars, n_words,
    link_density, stopword_density, label}`` with label in
    {"content", "heading", "boilerplate"}."""
    blocks: List[Dict[str, Any]] = []
    for node in doc.iter():
        if not isinstance(node, Element) or isinstance(node, Comment):
            continue
        if not _is_block_candidate(node) or _in_skipped_subtree(node):
            continue
        text = normalize_whitespace(node.text_content())
        if not text:
            continue
        words = _WORD_RE.findall(text)
        n_words = len(words)
        n_chars = len(text)
        link_density = _link_chars(node) / n_chars if n_chars else 1.0
        stop_hits = sum(1 for w in words if w.lower() in _STOPWORDS)
        stopword_density = stop_hits / n_words if n_words else 0.0

        is_heading = node.tag in ("h1", "h2", "h3", "h4", "h5", "h6")
        if _in_shielded_container(node):
            label = "boilerplate"
        elif is_heading:
            label = "heading"
        elif link_density > max_link_density:
            label = "boilerplate"
        elif n_words >= min_words_content:
            label = "content"
        elif n_words >= min_words_maybe and link_density <= max_link_density_maybe:
            label = "content"
        else:
            label = "boilerplate"
        blocks.append(
            {
                "text": text,
                "tag": node.tag,
                "n_chars": n_chars,
                "n_words": n_words,
                "link_density": round(link_density, 4),
                "stopword_density": round(stopword_density, 4),
                "label": label,
            }
        )

    # headings survive only when followed by a content block before the
    # next heading (jusText's header handling)
    for i, blk in enumerate(blocks):
        if blk["label"] != "heading":
            continue
        keep = False
        for nxt in blocks[i + 1 :]:
            if nxt["label"] == "heading":
                break
            if nxt["label"] == "content":
                keep = True
                break
        blk["label"] = "content" if keep else "boilerplate"
    return blocks


def extract_main_text(html: str, join_on: str = "\n\n", **thresholds: Any) -> Optional[str]:
    """Boilerplate-stripped plaintext of a document, or None if no
    content blocks survive."""
    blocks = classify_blocks(parse_html(html), **thresholds)
    content = [b["text"] for b in blocks if b["label"] == "content"]
    return join_on.join(content) if content else None
