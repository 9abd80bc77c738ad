"""Frozen DOM parity: ``parse_html`` must keep building exactly the trees
recorded in ``dom_tree_digests.json``, and its tokenizer must emit the
callback stream that ``html.parser.HTMLParser`` emits on the same input.

The corpus is generated, not fixtures, in families:

- ``sources``: every HTML generator in ``fundus_spark/sources/``
  (``doc_html.py_doc_to_html``, ``transcripts.synth_article_html``,
  ``transcripts.bulk_rows``) and the ``perfbench/gen.py`` page shapes
  (``_rich_html`` and the ``transcripts`` table);
- ``selector_pages`` and ``rule_pages``: the selector-parity and
  rule-spec-parity page builders, serialized;
- ``malformed``: seeded documents of unclosed tags, stray ``<``/``</``,
  bogus end tags, CDATA elements holding ``</``, entities in attributes
  and at the end of data runs, declarations, marked sections, PIs,
  comments and 1,000-byte whitespace runs in ``<head>``;
- ``truncated``: every prefix of three generated pages.

A tree is described node by node in ``iter()`` order (node type, tag,
sorted attributes, text, tail, child count); a parse that raises is
described by its exception. The per-family digest is a sha256 over the
descriptions.

The digests were generated with the ``html.parser``-based tree builder
the tokenizer replaced; regenerate them (``python -m
tests.test_dom_tokenizer_parity --write``) only for an intended change
of tree shape, never to make this pass.
"""

from __future__ import annotations

import functools
import hashlib
import json
import random
import sys
from html.parser import HTMLParser
from pathlib import Path
from typing import Any, Dict, List, Tuple

from fundus_spark.kernel.dom import parse_html

DIGESTS_PATH = Path(__file__).with_name("dom_tree_digests.json")

MALFORMED_DOCS = 600

_HEADS = [
    "",
    "<!DOCTYPE html>",
    "<!DOCTYPE html><html lang='de'><head>",
    "<html><head><title>T &amp; U</title>",
    "<head>",
    "<html>",
    " <!-- pre --> <html><!-- in html -->",
    "<?xml version='1.0'?><html><head><meta charset='utf-8'>",
    "<html><head></head>",
    "<body>",
]

_PIECES = [
    # well-formed and implied-end-tag material
    "<p>", "</p>", "<div class='a b'>", "</div>", "<span id=x>", "</span>", "<article>", "<section>",
    "<li>", "<ul>", "</ul>", "<table>", "<tr>", "<td>", "<th>", "</table>", "<dl><dt>t<dd>d", "<option>",
    "<a href='/x?a=1&amp;b=2&c=3'>", "</a>", "<br>", "<br/>", "</br>", "<img src=\"a.jpg\" alt=x>",
    "<source srcset='s.jpg'/>", "<div/>", "<span/>", "<hr/>", "<meta charset=utf-8>", "<link rel=x href=y>",
    "<title>a &lt; b</title>", "<noscript><img src='n.jpg'></noscript>", "<html lang='en'>", "<head>",
    "</head>", "<body class='b'>", "</body>", "</html>", "<h2>", "</h2>", "<em>", "</em>",
    "<P CLASS=Up ID='I'>", "<DIV>", "</DIV>", "<figure><img src=f.jpg><figcaption>c</figcaption></figure>",
    # tolerant attribute parsing
    "<a b='c' b='d'>", "<a b>", "<a b=>", "<a =b>", "<a b==c>", "<a b = 'c' / >", "<a b=c/>", "<a/b>",
    "<a / >", "<a\tb\n=\n'c'>", "<input disabled checked=checked>",
    "<a title=\"x &lt; y &amp z\" data-x=&quot;q&quot; data-y='&#39;' data-z=&notin>", "<a b=\"c>",
    "<a b='c", "<a 'b'>", "<a \"b\"=c>", "<x-custom a=1>", "<svg:rect/>", "<a\x00b>", "<p\x00>",
    "<p / class=x>", "<p class=x/ >", "<img src=x /", "<a b='1'c='2'>", "<a href=x>y</a href>",
    # stray and bogus markup
    "<", "< p>", "a < b", "<3", "<<", "<>", "</", "</>", "</ x>", "</3>", "</ 3>", "</p junk='>'>",
    "</P >", "</p\n>", "</a b>", "<!x>", "<!>", "<!-->", "<!--->", "<!---->", "<!-- c -- >",
    "<!-- a --!>", "<!--", "<!-- unterminated", "<![CDATA[x<y]]>", "<![CDATA[", "<![if IE]>x<![endif]>",
    "<![endif]>", "<!doctype html>", "<!DOCTYPE", "<!ELEMENT x>", "<?pi>", "<?xml version='1.0'?>",
    "<?", "<?php echo 1 ?>",
    # CDATA elements
    "<script>var a = '</' + 'div>'; if (a < b && c) {}</script>", "<script>x</scriptx>y</script >",
    "<script type='t'>a</SCRIPT>", "<script>unterminated", "<style>p > a {}</style>", "<style>x</ style>",
    "<script/>var x;</script>", "<style/>", "<script>a</b>c</script\t\n>", "<script></script>",
    "<script>&amp;</script>", "<script>a</ script>b</script>",
    # character references in data
    "&amp;", "&amp", "&lt;p&gt;", "&#60;", "&#x3C;", "&#x3c", "&#0;", "&#1114112;", "&notin;", "&notit;",
    "&;", "&", "& b", "&#", "&#x", "&copy", "AT&T", "&nbsp;&nbsp;",
]

_WORDS = ["word", "Alpha beta.", "ü ß €", "​", "  ", "\n", "x", "Text with &amp; entity"]

_WHITESPACE = [" " * 999, " " * 1000, "\n" * 1200, " \t\n" * 400, "   ", "\n  "]

# inputs that make html.parser raise (marked sections it cannot name)
_RAISING = ["<p>a</p><![foo]>b", "<![ x]>", "<html><![1]>", "<body><![if]"]


def malformed_doc(rng: random.Random) -> str:
    parts = [rng.choice(_HEADS)]
    for _ in range(rng.randint(3, 25)):
        roll = rng.random()
        if roll < 0.1:
            parts.append(rng.choice(_WHITESPACE))
        elif roll < 0.3:
            parts.append(rng.choice(_WORDS))
        else:
            parts.append(rng.choice(_PIECES))
    return "".join(parts)


def _rule_page(rng: random.Random, version: Any, module: Any) -> str:
    from tests.test_rule_spec_parity import _module_selectors, build_page, version_selectors

    return build_page(rng, module, version_selectors(version) or _module_selectors(module)).html


@functools.lru_cache(maxsize=1)
def corpus() -> Dict[str, List[str]]:
    from fundus_spark.sources.doc_html import py_doc_to_html
    from fundus_spark.sources.transcripts import _paragraph, bulk_rows, synth_article_html
    from perfbench.gen import ExtractShape, _rich_html, transcripts
    from tests.test_rule_spec_parity import _serialize, distinct_versions
    from tests.test_selector_parity import _vocabulary, build_dom, rule_selectors

    rng = random.Random("dom-sources")
    sources = [py_doc_to_html(i, _paragraph(rng)) for i in range(40)]
    sources += [synth_article_html(rng, i) for i in range(40)]
    sources += [row["text"] for row in bulk_rows(60, seed=3)]
    sources += [_rich_html(1_000_000 + i, _paragraph(rng)) for i in range(40)]
    sources += transcripts(5, ExtractShape(n_turns=60))[0].column("text").to_pylist()

    selector_pages = []
    for key in sorted(rule_selectors())[::4]:
        rng = random.Random("dom-selector:" + key)
        selector_pages += [_serialize(build_dom(rng, *_vocabulary(key))) for _ in range(2)]

    rule_pages = []
    for key, version, module in list(distinct_versions())[::5]:
        rule_pages.append(_rule_page(random.Random("dom-rule:" + key), version, module))

    rng = random.Random("dom-malformed")
    malformed = [malformed_doc(rng) for _ in range(MALFORMED_DOCS)] + _RAISING
    malformed += ["text &amp", "a &", "a&#", "x &notin", "<p>&amp;</p>&", " &" + " " * 40, "<p>a&#x3c"]

    truncated = []
    for page in (sources[40], sources[120], rule_pages[0]):
        truncated += [page[:k] for k in range(len(page) + 1)]

    return {
        "sources": sources,
        "selector_pages": selector_pages,
        "rule_pages": rule_pages,
        "malformed": malformed,
        "truncated": truncated,
    }


def describe_tree(html: str) -> Any:
    try:
        root = parse_html(html)
    except Exception as exc:  # noqa: BLE001 — a raising parse is a result too
        return ["error", type(exc).__name__, str(exc)]
    return [[type(n).__name__, n.tag, sorted(n.attrib.items()), n.text, n.tail, len(n)] for n in root.iter()]


def all_digests() -> Dict[str, List[Any]]:
    """family -> [document count, sha256 over the tree descriptions]."""
    out: Dict[str, List[Any]] = {}
    for family, docs in corpus().items():
        h = hashlib.sha256()
        for html in docs:
            h.update(json.dumps(describe_tree(html), ensure_ascii=False).encode())
        out[family] = [len(docs), h.hexdigest()]
    return out


def test_trees_match_frozen_digests():
    frozen = json.loads(DIGESTS_PATH.read_text())
    digests = all_digests()
    assert {k: v[0] for k, v in digests.items()} == {k: v[0] for k, v in frozen.items()}, "corpus changed"
    changed = [family for family, (_, digest) in digests.items() if digest != frozen[family][1]]
    assert not changed, f"tree shape changed in families {changed}"


class _OracleStream(HTMLParser):
    """html.parser's callbacks, with the tree builder's one override: a
    self-closed ``<script/>``/``<style/>`` stays open, so CDATA mode
    starts as it does after ``<script>``."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.events: List[Tuple[Any, ...]] = []

    def handle_starttag(self, tag, attrs):
        self.events.append(("starttag", tag, attrs))

    def handle_startendtag(self, tag, attrs):
        self.events.append(("startendtag", tag, attrs))
        if tag in ("script", "style"):
            self.set_cdata_mode(tag)

    def handle_endtag(self, tag):
        self.events.append(("endtag", tag))

    def handle_data(self, data):
        self.events.append(("data", data))

    def handle_comment(self, data):
        self.events.append(("comment", data))

    def handle_pi(self, data):
        self.events.append(("pi", data))


class _Recorder:
    def __init__(self) -> None:
        self.events: List[Tuple[Any, ...]] = []

    def starttag(self, tag, attrs):
        self.events.append(("starttag", tag, attrs))

    def startendtag(self, tag, attrs):
        self.events.append(("startendtag", tag, attrs))

    def endtag(self, tag):
        self.events.append(("endtag", tag))

    def data(self, data):
        self.events.append(("data", data))

    def comment(self, data):
        self.events.append(("comment", data))

    def pi(self, data):
        self.events.append(("pi", data))


def oracle_stream(html: str) -> List[Tuple[Any, ...]]:
    parser = _OracleStream()
    try:
        parser.feed(html)
        parser.close()
    except Exception as exc:  # noqa: BLE001
        parser.events.append(("error", type(exc).__name__, str(exc)))
    return parser.events


def tokenizer_stream(html: str) -> List[Tuple[Any, ...]]:
    from fundus_spark.kernel.dom import tokenize

    sink = _Recorder()
    try:
        tokenize(html, sink)
    except Exception as exc:  # noqa: BLE001
        sink.events.append(("error", type(exc).__name__, str(exc)))
    return sink.events


def test_tokenizer_stream_equals_html_parser():
    mismatched = []
    for family, docs in corpus().items():
        for i, html in enumerate(docs):
            if tokenizer_stream(html) != oracle_stream(html):
                mismatched.append((family, i, html[:80]))
    assert not mismatched, f"{len(mismatched)} documents tokenize differently, e.g. {mismatched[:3]}"


def test_corpus_reaches_the_recovery_branches():
    """The malformed family exercises what it claims to: errors, bogus
    comments, unterminated constructs turned into data, and head-phase
    whitespace runs on both sides of 1,000 bytes."""
    events = [e for html in corpus()["malformed"] for e in oracle_stream(html)]
    kinds = {e[0] for e in events}
    assert {"starttag", "startendtag", "endtag", "data", "comment", "pi", "error"} <= kinds
    data = [e[1] for e in events if e[0] == "data"]
    assert any(d.startswith("<!--") for d in data)  # unterminated comment at EOF
    assert any(d.startswith("</") for d in data)  # "</" before EOF / inside CDATA
    assert any(len(d) >= 1000 and not d.strip() for d in data)
    assert any(0 < len(d) < 1000 and not d.strip() for d in data)


def main(argv: List[str]) -> None:
    digests = all_digests()
    if "--write" in argv:
        DIGESTS_PATH.write_text(json.dumps(digests, indent=1, sort_keys=True) + "\n")
    print(json.dumps(digests))


if __name__ == "__main__":
    main(sys.argv[1:])
