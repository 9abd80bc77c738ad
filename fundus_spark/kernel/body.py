"""Article-body assembly — parity with reference
``src/fundus/parser/utility.py:136-205`` and the body data model of
``src/fundus/parser/data.py:297-410``.

The body is represented as a plain dict (the golden-test payload
shape, ``data.py:396-400``)::

    {"summary": [str, ...],
     "sections": [{"headline": [str, ...], "paragraphs": [str, ...]}]}

Assembly semantics (all parity-critical):
* candidate nodes are kept only if their normalized break-preserved
  text is non-empty (node truthiness, utility.py:120-121,150)
* trailing paragraphs whose first text node normalizes to empty but
  which have a direct <em> child are dropped (utility.py:156-167)
* nodes sort by depth-first document position (utility.py:169)
* runs of same node kind chunk into summary, then
  (headline, paragraphs) section pairs (utility.py:175-203)
* every emitted string is whitespace-normalized with <script>
  excluded and an optional tag filter (utility.py:186-203)
"""

from __future__ import annotations

from typing import Any, Callable, Dict, List, Optional, Sequence, Tuple

from .dom import Element
from .text import break_preserved_text, node_is_truthy, normalize_whitespace
from .xpath import _xpath_normalize_space

__all__ = ["assemble_body", "body_to_plaintext", "empty_body"]

_SUMMARY, _SUBHEAD, _PARAGRAPH = 0, 1, 2
_SCRIPT = ("script",)


def empty_body() -> Dict[str, Any]:
    return {"summary": [], "sections": []}


def body_to_plaintext(body: Dict[str, Any], join_on: str = "\n\n") -> str:
    """Depth-first traversal text, reference ``data.py:332-337``."""
    texts: List[str] = list(body["summary"])
    for section in body["sections"]:
        texts.extend(section["headline"])
        texts.extend(section["paragraphs"])
    return join_on.join(texts)


def _first_text_node_normalized(el: Element) -> str:
    """XPath ``normalize-space(text())`` == normalize-space of the FIRST
    text-node child (string conversion of a node-set takes the first
    node) — the reference leans on that exact behavior."""
    if el.text:
        return _xpath_normalize_space(el.text)
    for child in el.children:
        if child.tail:
            return _xpath_normalize_space(child.tail)
    # no non-empty text node exists
    return ""


def assemble_body(
    doc: Element,
    paragraph_selector: Callable[[Element], Sequence[Element]],
    summary_selector: Optional[Callable[[Element], Sequence[Element]]] = None,
    subheadline_selector: Optional[Callable[[Element], Sequence[Element]]] = None,
    tag_filter: Optional[Callable[[Element], object]] = None,
) -> Dict[str, Any]:
    position = {id(node): i for i, node in enumerate(doc.iter())}

    def select(selector: Callable[[Element], Sequence[Element]]) -> List[Element]:
        return [el for el in selector(doc) if node_is_truthy(el)]

    summary_nodes = select(summary_selector) if summary_selector else []
    subhead_nodes = select(subheadline_selector) if subheadline_selector else []
    paragraph_nodes = select(paragraph_selector)

    def is_trailing_em_bloat(el: Element) -> bool:
        has_text = bool(_first_text_node_normalized(el))
        has_em = any(c.tag == "em" for c in el.children)
        return not has_text and has_em

    while paragraph_nodes and is_trailing_em_bloat(paragraph_nodes[-1]):
        paragraph_nodes.pop()

    tagged: List[Tuple[int, int, Element]] = sorted(
        [(position[id(n)], _SUMMARY, n) for n in summary_nodes]
        + [(position[id(n)], _SUBHEAD, n) for n in subhead_nodes]
        + [(position[id(n)], _PARAGRAPH, n) for n in paragraph_nodes],
        key=lambda t: t[0],
    )

    if not tagged:
        return empty_body()

    # group consecutive same-kind runs
    runs: List[List[Element]] = []
    run_kinds: List[int] = []
    for pos, kind, node in tagged:
        if runs and run_kinds[-1] == kind:
            runs[-1].append(node)
        else:
            runs.append([node])
            run_kinds.append(kind)

    if not summary_nodes:
        runs.insert(0, [])
        run_kinds.insert(0, _SUMMARY)
    else:
        leading = [n for _, k, n in tagged[: len(summary_nodes)]]
        if leading != summary_nodes:
            raise ValueError("All summary nodes should be at the beginning of the article")

    first_subhead_pos = position[id(subhead_nodes[0])] if subhead_nodes else None
    first_para_pos = position[id(paragraph_nodes[0])] if paragraph_nodes else None
    if not subhead_nodes or (first_para_pos is not None and first_subhead_pos is not None and first_subhead_pos > first_para_pos):
        # article opens with paragraphs: inject an empty headline run
        runs.insert(1, [])
        run_kinds.insert(1, _SUBHEAD)

    def text_of(el: Element) -> str:
        return normalize_whitespace(break_preserved_text(el, _SCRIPT, tag_filter))

    summary = [text_of(n) for n in runs[0]]
    sections: List[Dict[str, Any]] = []
    rest = runs[1:]
    for i in range(0, len(rest), 2):
        chunk = rest[i : i + 2]
        if len(chunk) == 1:
            chunk.append([])
        headline, paragraphs = chunk
        sections.append(
            {
                "headline": [text_of(n) for n in headline],
                "paragraphs": [text_of(n) for n in paragraphs],
            }
        )
    return {"summary": summary, "sections": sections}
