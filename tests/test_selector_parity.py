"""Frozen selector parity: every module-level ``XPath``/``CSSSelector``
in ``fundus_spark/rules/`` (and in ``fundus_spark/kernel/``) must keep returning exactly the nodes, in
exactly the order, recorded in ``selector_parity_digests.json``.

The documents are generated, not fixtures: each selector gets a family
of small random DOMs built from its own vocabulary (tags, attribute
names and string literals), seeded with ``random.Random(selector key)``
so they are identical on every run and every machine. Each selector is
evaluated at the document root and at a few element contexts; the
per-selector digest covers every result (node identity by depth-first
index, attribute/text payloads, scalar values, raised error types).

The digests were generated with the selector engines as they stood
before the engines started producing document order by construction;
regenerate them (``python tests/test_selector_parity.py --write``) only
for an intended change of selector results, never to make this pass.
"""

from __future__ import annotations

import hashlib
import importlib
import json
import pkgutil
import random
import sys
from pathlib import Path
from typing import Any, Dict, Iterator, List, Tuple

from fundus_spark.kernel.css import CSSSelector, _parse_group
from fundus_spark.kernel.dom import Comment, Element, document_order_index
from fundus_spark.kernel.xpath import AttrNode, TextNode, XPath, _tokenize

DIGESTS_PATH = Path(__file__).with_name("selector_parity_digests.json")

DOCS_PER_SELECTOR = 32
CONTEXTS_PER_DOC = 5  # element contexts, on top of the document root
MAX_NODES = 30

_COMMON_TAGS = ["div", "p", "span", "a", "article", "section", "h2", "script", "meta", "li", "figure", "img"]
_COMMON_ATTRS = ["class", "id"]
_WORDS = ["alpha", "beta", "gamma", "Foto", "Autor", "2024-01-02", "x y", ""]
_XPATH_KEYWORDS = {"and", "or"}


def rule_selectors() -> Dict[str, Any]:
    """Module-level selectors of every rule module and of the kernel
    itself, keyed by kind and expression (a selector re-exported by
    several modules counts once)."""
    import fundus_spark.kernel as kernel
    import fundus_spark.rules as rules

    out: Dict[str, Any] = {}
    for package in (rules, kernel):
        for info in pkgutil.walk_packages(package.__path__, package.__name__ + "."):
            module = importlib.import_module(info.name)
            for value in vars(module).values():
                if isinstance(value, XPath):
                    out.setdefault("xpath:" + value.expr, value)
                elif isinstance(value, CSSSelector):
                    out.setdefault("css:" + value.selector, value)
    return dict(sorted(out.items()))


def _css_vocabulary(selector: str) -> Tuple[List[str], List[str], List[str]]:
    tags: List[str] = []
    attrs: List[str] = []
    literals: List[str] = []

    def visit(simple: Any) -> None:
        if simple.tag:
            tags.append(simple.tag)
        if simple.classes:
            attrs.append("class")
            literals.extend(simple.classes)
        if simple.id:
            attrs.append("id")
            literals.append(simple.id)
        for name, _op, value in simple.attrs:
            attrs.append(name)
            if value:
                literals.append(value)
        for inner in simple.negations:
            visit(inner)
        for _relation, inner in simple.has:
            visit(inner)

    for chain in _parse_group(selector):
        for _combinator, simple in chain:
            visit(simple)
    return tags, attrs, literals


def _xpath_vocabulary(expr: str) -> Tuple[List[str], List[str], List[str]]:
    tags: List[str] = []
    attrs: List[str] = []
    literals: List[str] = []
    tokens = _tokenize(expr)
    for i, (kind, value) in enumerate(tokens):
        if kind == "string":
            literals.append(value[1:-1])
        elif kind == "name":
            prev = tokens[i - 1] if i else ("", "")
            nxt = tokens[i + 1][1]
            if nxt in ("(", "::") or value in _XPATH_KEYWORDS:
                continue
            if prev[1] == "@" or (prev[0] == "dcolon" and tokens[i - 2][1] == "attribute"):
                attrs.append(value)
            else:
                tags.append(value)
    return tags, attrs, literals


def _vocabulary(key: str) -> Tuple[List[str], List[str], List[str]]:
    kind, _, expr = key.partition(":")
    tags, attrs, literals = _css_vocabulary(expr) if kind == "css" else _xpath_vocabulary(expr)
    # class-like literals ("a b") contribute their tokens too
    literals = literals + [tok for lit in literals for tok in lit.split() if tok != lit]
    return sorted(set(tags)), sorted(set(attrs)), sorted(set(literals))


def _random_value(rng: random.Random, literals: List[str]) -> str:
    pool = literals or _WORDS
    roll = rng.random()
    if roll < 0.65:
        return rng.choice(pool)
    if roll < 0.8:
        return f"{rng.choice(pool)} {rng.choice(pool)}"
    if roll < 0.9:
        return rng.choice(["x", "pre-", " "]) + rng.choice(pool) + rng.choice(["", "-x", " "])
    return rng.choice(_WORDS)


def build_dom(rng: random.Random, tags: List[str], attrs: List[str], literals: List[str]) -> Element:
    """A random tree rooted at ``html``: nested repeats of the selector's
    own tags, attributes drawn from its own names and literals, text and
    tails from its literals, and the odd comment. Each document focuses
    on a few of the selector's tags and literals, so that the
    combinations one step of the selector asks for actually co-occur."""
    focus_tags = rng.sample(tags, min(len(tags), rng.randint(1, 3))) if tags else _COMMON_TAGS
    focus_literals = rng.sample(literals, min(len(literals), rng.randint(1, 2))) if literals else _WORDS
    extra_attrs = [name for name in _COMMON_ATTRS if name not in attrs]
    root = Element("html")
    count = [1]

    def value() -> str:
        return _random_value(rng, focus_literals if rng.random() < 0.7 else literals)

    def text() -> Any:
        roll = rng.random()
        if roll < 0.4:
            return None
        return "  \n " if roll < 0.5 else value()

    def new_element() -> Element:
        if rng.random() < 0.05:
            node: Element = Comment(value())
        else:
            roll = rng.random()
            tag = rng.choice(focus_tags if roll < 0.75 else (tags or _COMMON_TAGS) if roll < 0.9 else _COMMON_TAGS)
            names = [name for name in attrs if rng.random() < 0.6]
            names += [name for name in extra_attrs if rng.random() < 0.2]
            rng.shuffle(names)  # attribute order is by name in XPath results
            node = Element(tag, {name: value() for name in names})
            node.text = text()
        node.tail = text()
        count[0] += 1
        return node

    def grow(parent: Element, depth: int) -> None:
        for _ in range(rng.randint(0, max(1, 5 - depth))):
            if count[0] >= MAX_NODES:
                return
            child = new_element()
            parent.append(child)
            if not isinstance(child, Comment):
                grow(child, depth + 1)

    while count[0] < 6:
        grow(root, 0)
    return root


def _describe(value: Any, index: Dict[int, int]) -> Any:
    if not isinstance(value, list):
        return ["scalar", repr(value)]
    out = []
    for node in value:
        if isinstance(node, AttrNode):
            out.append(["attr", index[id(node.owner)], node.name, node.value])
        elif isinstance(node, TextNode):
            out.append(["text", index.get(id(node.owner), -1), node.index, node.value])
        else:
            out.append(["el", index.get(id(node), -1), node.tag])
    return out


def selector_runs(key: str, selector: Any) -> Iterator[Any]:
    """Yields the described result of every (document, context) run."""
    tags, attrs, literals = _vocabulary(key)
    rng = random.Random(key)
    for _ in range(DOCS_PER_SELECTOR):
        root = build_dom(rng, tags, attrs, literals)
        index = document_order_index(root)
        elements = [el for el in root.iter() if not isinstance(el, Comment)]
        for context in [root] + [rng.choice(elements) for _ in range(CONTEXTS_PER_DOC)]:
            try:
                yield _describe(selector(context), index)
            except Exception as exc:  # noqa: BLE001 — an error is a result too
                yield ["error", type(exc).__name__]


def selector_digest(key: str, selector: Any) -> Tuple[str, int]:
    """(sha256 over every run, largest node-set size seen)."""
    h = hashlib.sha256()
    largest = 0
    for described in selector_runs(key, selector):
        h.update(json.dumps(described, ensure_ascii=False).encode())
        if described and described[0] not in ("scalar", "error"):
            largest = max(largest, len(described))
    return h.hexdigest(), largest


def all_digests() -> Tuple[Dict[str, str], int]:
    """Every selector's digest, and how many selectors return two or
    more nodes in some run."""
    digests: Dict[str, str] = {}
    multi = 0
    for key, selector in rule_selectors().items():
        digests[key], largest = selector_digest(key, selector)
        multi += largest >= 2
    return digests, multi


def test_rule_selectors_match_frozen_digests():
    frozen = json.loads(DIGESTS_PATH.read_text())
    digests, multi = all_digests()
    missing = sorted(set(digests) - set(frozen))
    assert not missing, f"selectors without a frozen digest (run this file with --write): {missing[:5]}"
    changed = [key for key, digest in digests.items() if digest != frozen[key]]
    assert not changed, f"{len(changed)} selectors changed results, e.g. {changed[:5]}"
    # the documents must exercise ordering: most selectors see >= 2 nodes
    assert multi >= 0.75 * len(digests), (multi, len(digests))


def main(argv: List[str]) -> None:
    digests, multi = all_digests()
    if "--write" in argv:
        DIGESTS_PATH.write_text(json.dumps(digests, indent=1, sort_keys=True, ensure_ascii=False) + "\n")
    print(json.dumps({"selectors": len(digests), "multi_node": multi}))


if __name__ == "__main__":
    main(sys.argv[1:])
