"""Minimal CSS selector engine (the subset publisher rules use).

Mirrors the role of ``lxml.cssselect.CSSSelector`` in the reference
(e.g. ``src/fundus/publishers/shared/euronews.py:21-23``): compound
selectors of tag / ``.class`` / ``#id`` / ``[attr]`` / ``[attr=value]``,
the descendant (whitespace) and child (``>``) combinators, and comma
groups. Matching starts at the context element's descendants-or-self,
like CSSSelector's ``descendant-or-self::`` translation.

Results come out unique and in document order by construction: one
depth-first walk over the context's subtree keeps every element that
matches any comma group, and each group is checked right to left from
the candidate, its child combinator against the parent and its
descendant combinator against the ancestors up to and including the
context element.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

from .dom import Comment, Element

__all__ = ["CSSSelector"]

_TOKEN = re.compile(
    r"""
    (?P<nth>:nth-of-type\(\s*\d+\s*\))
  | (?P<nthchild>:nth-child\(\s*\d+\s*\))
  | (?P<lastoftype>:last-of-type)
  | (?P<not>:not\((?:[^()]|\([^()]*\))*\))
  | (?P<has>:has\(\s*[^()]*\s*\))
  | (?P<name>[A-Za-z][\w-]*)
  | (?P<cls>\.[\w-]+)
  | (?P<id>\#[\w-]+)
  | (?P<attr>\[\s*[\w:-]+\s*(?:[*^$~]?=\s*(?:'[^']*'|"[^"]*"|[\w-]+))?\s*\])
  | (?P<star>\*)
  | (?P<child>\s*>\s*)
  | (?P<comma>\s*,\s*)
  | (?P<ws>\s+)
    """,
    re.VERBOSE,
)

_ATTR_RE = re.compile(r"\[\s*(?P<name>[\w:-]+)\s*(?:(?P<op>[*^$~]?=)\s*(?P<val>'[^']*'|\"[^\"]*\"|[\w-]+))?\s*\]")


class _Simple:
    __slots__ = ("tag", "classes", "id", "attrs", "negations", "has", "nth_of_type", "nth_child", "last_of_type")

    def __init__(self) -> None:
        self.tag: Optional[str] = None
        self.classes: List[str] = []
        self.id: Optional[str] = None
        self.attrs: List[Tuple[str, str, Optional[str]]] = []  # (name, op, value)
        self.negations: List["_Simple"] = []
        self.has: List[Tuple[str, "_Simple"]] = []  # (relation 'child'|'descendant', simple)
        self.nth_of_type: Optional[int] = None
        self.nth_child: Optional[int] = None
        self.last_of_type: bool = False

    def matches(self, el: Element) -> bool:
        # every check is a pure conjunct: the cheap tag test goes first
        if isinstance(el, Comment):
            return False
        if self.tag is not None and el.tag != self.tag:
            return False
        if self.classes:
            el_classes = el.classes()
            if not all(c in el_classes for c in self.classes):
                return False
        if self.id is not None and el.get("id") != self.id:
            return False
        for name, op, value in self.attrs:
            actual = el.get(name)
            if actual is None:
                return False
            if value is None:
                continue
            if op == "=":
                ok = actual == value
            elif op == "*=":
                ok = value in actual
            elif op == "^=":
                ok = actual.startswith(value)
            elif op == "$=":
                ok = actual.endswith(value)
            elif op == "~=":
                ok = value in actual.split()
            else:
                ok = False
            if not ok:
                return False
        if any(neg.matches(el) for neg in self.negations):
            return False
        if self.nth_of_type is not None:
            parent = el.getparent()
            if parent is None:
                return False
            same_tag = [c for c in parent.children if c.tag == el.tag and not isinstance(c, Comment)]
            if el not in same_tag[self.nth_of_type - 1 : self.nth_of_type]:
                return False
        if self.nth_child is not None:
            parent = el.getparent()
            if parent is None:
                return False
            siblings = [c for c in parent.children if not isinstance(c, Comment)]
            if el not in siblings[self.nth_child - 1 : self.nth_child]:
                return False
        if self.last_of_type:
            parent = el.getparent()
            if parent is None:
                return False
            same_tag = [c for c in parent.children if c.tag == el.tag and not isinstance(c, Comment)]
            if not same_tag or same_tag[-1] is not el:
                return False
        for relation, inner in self.has:
            if relation == "child":
                if not any(inner.matches(c) for c in el.children):
                    return False
            else:
                it = el.iter()
                next(it)
                if not any(inner.matches(d) for d in it):
                    return False
        return True


def _parse_group(selector: str) -> List[List[Tuple[str, _Simple]]]:
    """Returns a list of compound chains; each chain is a list of
    (combinator, simple) with combinator in {'descendant', 'child'}."""
    groups: List[List[Tuple[str, _Simple]]] = []
    chain: List[Tuple[str, _Simple]] = []
    current: Optional[_Simple] = None
    pending_combinator = "descendant"
    pos = 0
    s = selector.strip()
    while pos < len(s):
        m = _TOKEN.match(s, pos)
        if not m:
            raise ValueError(f"Cannot parse CSS selector at {s[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        text = m.group()
        if kind == "comma":
            if current is not None:
                chain.append((pending_combinator, current))
            if not chain:
                raise ValueError(f"Empty selector group in {selector!r}")
            groups.append(chain)
            chain, current, pending_combinator = [], None, "descendant"
        elif kind == "child":
            if current is not None:
                chain.append((pending_combinator, current))
                current = None
            pending_combinator_next = "child"
            pending_combinator = pending_combinator_next
        elif kind == "ws":
            if current is not None:
                chain.append((pending_combinator, current))
                current = None
                pending_combinator = "descendant"
        else:
            if current is None:
                current = _Simple()
            if kind == "name":
                current.tag = text
            elif kind == "cls":
                current.classes.append(text[1:])
            elif kind == "id":
                current.id = text[1:]
            elif kind == "star":
                pass
            elif kind == "attr":
                am = _ATTR_RE.match(text)
                assert am is not None
                val = am.group("val")
                if val and val[0] in "'\"":
                    val = val[1:-1]
                current.attrs.append((am.group("name"), am.group("op") or "=", val))
            elif kind == "not":
                inner = text[len(":not(") : -1].strip()
                neg_groups = _parse_group(inner)
                if len(neg_groups) != 1 or len(neg_groups[0]) != 1:
                    raise ValueError(f":not() takes one simple selector, got {inner!r}")
                current.negations.append(neg_groups[0][0][1])
            elif kind == "nth":
                current.nth_of_type = int(re.search(r"\d+", text).group())
            elif kind == "nthchild":
                current.nth_child = int(re.search(r"\d+", text).group())
            elif kind == "lastoftype":
                current.last_of_type = True
            elif kind == "has":
                inner = text[len(":has(") : -1].strip()
                relation = "descendant"
                if inner.startswith(">"):
                    relation = "child"
                    inner = inner[1:].strip()
                has_groups = _parse_group(inner)
                if len(has_groups) != 1 or len(has_groups[0]) != 1:
                    raise ValueError(f":has() takes one simple selector, got {inner!r}")
                current.has.append((relation, has_groups[0][0][1]))
    if current is not None:
        chain.append((pending_combinator, current))
    if chain:
        groups.append(chain)
    return groups


def _chain_matches(chain: List[Tuple[str, _Simple]], i: int, el: Element, context: Element) -> bool:
    """Whether ``el`` matches ``chain[: i + 1]`` read right to left, with
    every compound left of ``i`` matched by an ancestor of ``el`` no
    higher than ``context``. ``chain[i][0]`` is the combinator that
    joins compound ``i`` to compound ``i - 1``."""
    combinator, simple = chain[i]
    if not simple.matches(el):
        return False
    if i == 0:
        return True
    while el is not context:
        el = el.getparent()  # type: ignore[assignment]
        if _chain_matches(chain, i - 1, el, context):
            return True
        if combinator == "child":
            return False
    return False


class CSSSelector:
    def __init__(self, selector: str):
        self.selector = selector
        self._groups = [(chain, len(chain) - 1) for chain in _parse_group(selector)]
        # the tags a match can have, or None when a group's rightmost
        # compound takes any tag
        tags = {chain[last][1].tag for chain, last in self._groups}
        self._tags = None if None in tags else frozenset(tags)

    def __call__(self, context: Element) -> List[Element]:
        groups, tags = self._groups, self._tags
        return [
            el
            for el in context.iter()
            if (tags is None or el.tag in tags)
            and any(_chain_matches(chain, last, el, context) for chain, last in groups)
        ]

    def __repr__(self) -> str:
        return f"CSSSelector({self.selector!r})"
