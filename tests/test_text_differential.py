"""Differential tests of the body-text primitives in ``kernel/text.py``.

``normalize_whitespace`` is ``" ".join(text.split())`` after the
zero-width characters become spaces; the oracle here is the regex it
replaced, the reference's own ``_ws_pattern`` (``\\s`` plus NBSP and the
zero-width family, runs replaced by one space, then stripped).

``break_preserved_text`` and ``node_is_truthy`` are module-level walkers;
the oracle is a copy of the walker they replaced, which built its two
helpers as closures on every call. Both run over every element of the
pages ``tests/test_extraction_digest.py`` extracts.
"""

from __future__ import annotations

import random
import re
import sys
from typing import Callable, List, Optional

from fundus_spark.kernel import parse_html
from fundus_spark.kernel.dom import Comment, Element
from fundus_spark.kernel.text import break_preserved_text, node_is_truthy, normalize_whitespace

_OLD_WS_CHARS = "\\s\u00a0\u200b\u200c\u200d\ufeff"
_OLD_WS_RUN = re.compile(f"[{_OLD_WS_CHARS}]+")
_OLD_NON_WS = re.compile(f"[^{_OLD_WS_CHARS}]")
_ZERO_WIDTH = "\u200b\u200c\u200d\ufeff"


def _old_normalize_whitespace(text: str) -> str:
    return _OLD_WS_RUN.sub(" ", text).strip()


def _old_break_preserved_text(
    node: Element,
    excluded_tags: Optional[List[str]] = None,
    tag_filter: Optional[Callable[[Element], object]] = None,
) -> str:
    excluded = excluded_tags or ()
    parts: List[str] = []
    append = parts.append

    def skipped(el: Element) -> bool:
        return el.tag in excluded or isinstance(el, Comment) or (tag_filter is not None and bool(tag_filter(el)))

    def walk(el: Element, nested: bool) -> None:
        if el.text:
            append(el.text)
        for child in el._children:  # noqa: SLF001
            if not skipped(child):
                walk(child, True)
            if nested and child.tag == "br":
                append("\n")
            if child.tail:
                append(child.tail)

    if not skipped(node):
        walk(node, False)
    return "".join(parts)


def _old_node_is_truthy(node: Element) -> bool:
    return _OLD_NON_WS.search(_old_break_preserved_text(node)) is not None


def _mismatches(texts) -> List[str]:
    return [t for t in texts if normalize_whitespace(t) != _old_normalize_whitespace(t)]


def test_normalize_whitespace_matches_the_regex_on_every_code_point():
    points = [chr(cp) for cp in range(sys.maxunicode + 1)]
    assert _mismatches(points) == []
    assert _mismatches(f"a{c}b" for c in points) == []
    assert _mismatches(f" {c}\u200bx{c}" for c in points) == []


def test_normalize_whitespace_matches_the_regex_on_mixed_runs():
    alphabet = [" ", "\t", "\n", "\r", "\x0b", "\x0c", "\x1c", "\x85", "\u00a0", "\u2003", "\u3000"]
    alphabet += list(_ZERO_WIDTH) + ["a", "b", "\u00e9", "\u4e2d", "\u2060", "\u180e"]
    rng = random.Random(19)
    texts = ["".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 24))) for _ in range(20000)]
    assert _mismatches(texts) == []
    assert normalize_whitespace("\ufeff \u200b\u00a0a\u200c\u200d b\u3000") == "a b"


def _golem_tag_filter():
    from fundus_spark.rules.golem import _tag_filter

    return _tag_filter


def _pages():
    from perfbench.gen import ExtractShape, transcripts

    from tests.test_extraction_digest import N_TURNS

    table, _, _ = transcripts(1, ExtractShape(n_turns=N_TURNS))
    return table.column("text").to_pylist()


def test_break_preserved_text_and_truthiness_match_the_closure_walker():
    tag_filter = _golem_tag_filter()
    rng = random.Random(5)
    checked = filtered = broken = 0
    for page_no, html in enumerate(_pages()):
        doc = parse_html(html)
        elements = list(doc.iter())
        if page_no % 2:
            # give the golem filter something to drop: its class on a
            # sample of the page's elements
            for el in rng.sample(elements, max(1, len(elements) // 8)):
                if not isinstance(el, Comment):
                    el.set("class", "go-vh")
        for el in elements:
            plain = break_preserved_text(el)
            assert plain == _old_break_preserved_text(el)
            assert node_is_truthy(el) == _old_node_is_truthy(el) == bool(normalize_whitespace(plain))
            no_script = break_preserved_text(el, ("script",))
            assert no_script == _old_break_preserved_text(el, ["script"])
            with_filter = break_preserved_text(el, ("script",), tag_filter)
            assert with_filter == _old_break_preserved_text(el, ["script"], tag_filter)
            checked += 1
            filtered += with_filter != no_script
            broken += any(d.tag == "br" and d is not el and d.getparent() is not el for d in el.iter())
    assert checked > 40000 and filtered > 1000 and broken > 0, (checked, filtered, broken)
