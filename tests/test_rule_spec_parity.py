"""Frozen rule-spec parity: every distinct ``VersionSpec`` in
``REGISTRY`` must keep producing exactly the outputs recorded in
``rule_spec_digests.json``.

The pages are generated, not fixtures. Each version gets a family of
small pages seeded with ``random.Random(spec.key + version.name)``:

- ``<head>``: a ``<title>``, ``<meta>`` tags and one JSON-LD block whose
  keys are the rule module's short string literals plus the default keys
  of the ``rules/_common.py`` factories, with values drawn from a small
  pool (names, ISO dates, comma lists, ``"false"``);
- ``<body><main>``: DOM fragments from the selector-parity generator,
  each built from the vocabulary of one selector the version's
  extractors reach (the module's selectors if they reach none), and a
  few ``<figure><img>`` blocks.

Each page runs through ``version.ordered(day)`` as ``run_extraction``
does; a raised exception is recorded by its type name. The per-version
digest is a sha256 over the canonical JSON of every page's output.

The digests were generated with the rule modules as they stood before
their extractor functions moved onto the shared factories; regenerate
them (``python -m tests.test_rule_spec_parity --write``) only for an
intended change of rule output, never to make this pass.
"""

from __future__ import annotations

import ast
import contextlib
import datetime
import functools
import hashlib
import html
import importlib
import json
import pkgutil
import random
import re
import sys
import types
from pathlib import Path
from typing import Any, Dict, Iterable, Iterator, List, Optional, Set, Tuple
from unittest import mock

from fundus_spark.kernel import CSSSelector, ParseContext, PublisherSpec, XPath
from fundus_spark.kernel import generics
from fundus_spark.kernel.dom import VOID_ELEMENTS, Comment, Element, parse_html
from fundus_spark.kernel.jsonld import extract_linked_data
from fundus_spark.kernel.meta import harvest_meta

from tests.test_selector_parity import _vocabulary, build_dom

_vocabulary = functools.lru_cache(maxsize=None)(_vocabulary)

DIGESTS_PATH = Path(__file__).with_name("rule_spec_digests.json")

PAGES_PER_VERSION = 16
FRAGMENTS_PER_PAGE = 4
FRAGMENT_TRIES = 4

#: default keys of the ``rules/_common.py`` factories, plus the key
#: ``free_access_from_ld`` reads
FACTORY_KEYS = ("author", "datePublished", "headline", "isAccessibleForFree", "keywords", "og:title")
#: attribute names, always keys too: a module that moves onto
#: ``std_extractors`` stops spelling them
ATTRIBUTES = ("authors", "body", "free_access", "images", "publishing_date", "title", "topics")
_KEY_LITERAL = re.compile(r"^[A-Za-z@][\w:.\-]{1,39}$")
_LD_TYPES = ("NewsArticle", "Article", "WebPage")

_NAMES = ["Jane Doe", "Max Mustermann", "Anna Schmidt, Peter Pan", "Redaktion", "Jean Dupont und Lea Roth"]
_DATES = ["2024-03-05T10:20:00+01:00", "2023-11-30T23:59:59Z", "2022-07-14", "2024-02-29T08:00:00.000Z"]
_LISTS = ["Politik, Wirtschaft", "Sport,Fußball,Bundesliga", "news", "Kultur; Film"]
_FLAGS = ["false", "true", "False"]

#: ``generic_date_parsing`` lets dateutil fill missing fields from the
#: current day and reads the current year; both are pinned here so a
#: fuzzy-parsed fragment ("12") digests the same on every day
_FIXED_NOW = datetime.datetime(2024, 6, 15)

#: output floors: the share of versions carrying an attribute that give
#: a non-default value on at least one of their pages
COVERAGE_FLOORS = {
    "title": 0.90,
    "free_access": 0.90,
    "authors": 0.90,
    "topics": 0.85,
    "body": 0.85,
    "publishing_date": 0.70,
    "images": 0.40,
}


def _spec_modules() -> Dict[str, Any]:
    """spec key -> the first rule module (by name) holding the spec as
    a global."""
    import fundus_spark.rules as rules

    out: Dict[str, Any] = {}
    for info in sorted(pkgutil.iter_modules(rules.__path__), key=lambda i: i.name):
        module = importlib.import_module(f"{rules.__name__}.{info.name}")
        for value in vars(module).values():
            if isinstance(value, PublisherSpec):
                out.setdefault(value.key, module)
    return out


@functools.lru_cache(maxsize=None)
def _module_literals(module: Any) -> Tuple[str, ...]:
    tree = ast.parse(Path(module.__file__).read_text())
    return tuple(sorted({n.value for n in ast.walk(tree) if isinstance(n, ast.Constant) and isinstance(n.value, str)}))


@functools.lru_cache(maxsize=None)
def _module_keys(module: Any) -> List[str]:
    literals = {lit for lit in _module_literals(module) if _KEY_LITERAL.match(lit)}
    return sorted(literals | set(FACTORY_KEYS) | set(ATTRIBUTES))


def _selector_key(value: Any) -> Optional[str]:
    if isinstance(value, XPath):
        return "xpath:" + value.expr
    if isinstance(value, CSSSelector):
        return "css:" + value.selector
    return None


def _by_key(selectors: Iterable[Any]) -> Dict[str, Any]:
    """Selector key -> selector, in key order."""
    keyed = {key: value for value in selectors if (key := _selector_key(value))}
    return dict(sorted(keyed.items()))


def _module_selectors(module: Any) -> Dict[str, Any]:
    return _by_key(vars(module).values())


def _code_names(code: types.CodeType) -> Iterator[str]:
    yield from code.co_names
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            yield from _code_names(const)


def version_selectors(version: Any) -> Dict[str, Any]:
    """The selectors a version's extractors can reach: through closure
    cells, defaults and referenced globals, following functions defined
    in the rule package. However an extractor is written (a def naming
    module selectors, or a factory closure holding them), the set is
    the same."""
    found: List[Any] = []
    seen: Set[int] = set()

    def visit(value: Any) -> None:
        if id(value) in seen:
            return
        seen.add(id(value))
        if _selector_key(value):
            found.append(value)
        elif isinstance(value, dict):
            for item in value.values():
                visit(item)
        elif isinstance(value, (list, tuple)):
            for item in value:
                visit(item)
        elif isinstance(value, types.FunctionType) and value.__module__.startswith("fundus_spark.rules"):
            for cell in value.__closure__ or ():
                visit(cell.cell_contents)
            visit(value.__defaults__ or ())
            visit(value.__kwdefaults__ or {})
            for name in _code_names(value.__code__):
                if name in value.__globals__:
                    visit(value.__globals__[name])

    for extractor in version.extractors:
        visit(extractor.fn)
    return _by_key(found)


def distinct_versions() -> Iterator[Tuple[str, Any, Any]]:
    """(spec key + version name, version, rule module) per distinct
    ``VersionSpec`` object, in registry order."""
    from fundus_spark.rules import REGISTRY

    modules = _spec_modules()
    seen = set()
    for key, spec in REGISTRY.items():
        for version in spec.versions:
            if id(version) not in seen:
                seen.add(id(version))
                yield key + version.name, version, modules[key]


def _value_for(rng: random.Random, key: str) -> Any:
    low = key.lower()
    if "free" in low or "access" in low:
        pool = _FLAGS
    elif "date" in low or "time" in low or "published" in low or "modified" in low:
        pool = _DATES
    elif "author" in low or "creator" in low or "name" in low or "byl" in low:
        pool = _NAMES
    elif "keyword" in low or "tag" in low or "section" in low or "topic" in low:
        pool = _LISTS
    else:
        pool = _NAMES + _DATES + _LISTS + _FLAGS[:1]
    if rng.random() < 0.2:
        pool = _NAMES + _DATES + _LISTS + _FLAGS[:1]
    value: Any = rng.choice(pool)
    if pool is _NAMES and rng.random() < 0.3:
        value = [{"@type": "Person", "name": name.strip()} for name in value.split(",")]
    return value


def _ld_block(rng: random.Random, keys: List[str], literals: Tuple[str, ...]) -> Dict[str, Any]:
    types = sorted({lit for lit in literals if lit in _LD_TYPES or lit.endswith("Article")} | {"NewsArticle"})
    graph = []
    for ld_type in rng.sample(types, min(len(types), rng.randint(1, 2))):
        node: Dict[str, Any] = {"@type": ld_type}
        for key in keys:
            if not key.startswith("@") and rng.random() < 0.6:
                node[key] = _value_for(rng, key)
        graph.append(node)
    return {"@context": "https://schema.org", "@graph": graph}


def _meta_tags(rng: random.Random, keys: List[str]) -> List[str]:
    tags = []
    for key in keys:
        if rng.random() < 0.6:
            value = _value_for(rng, key)
            if not isinstance(value, str):
                value = ", ".join(v["name"] for v in value)
            attr = "property" if ":" in key else "name"
            tags.append(f'<meta {attr}="{html.escape(key)}" content="{html.escape(value)}">')
    return tags


def _serialize(node: Element) -> str:
    if isinstance(node, Comment):
        out = "<!--" + (node.text or "").replace("--", "- -") + "-->"
    else:
        attrs = "".join(f' {name}="{html.escape(value)}"' for name, value in node.attrib.items())
        out = f"<{node.tag}{attrs}>" + html.escape(node.text or "", quote=False)
        out += "".join(_serialize(child) for child in node.children)
        if node.tag not in VOID_ELEMENTS:
            out += f"</{node.tag}>"
    return out + html.escape(node.tail or "", quote=False)


def _figure(rng: random.Random, n: int) -> Element:
    width = str(rng.choice([320, 640, 1024]))
    figure = Element("figure")
    src = f"https://img.example.com/{n}.jpg?width={width}"
    figure.append(Element("img", {"src": src, "width": width, "alt": "image"}))
    caption = Element("figcaption")
    caption.text = rng.choice(["Foto: Jane Doe", "A caption", "Bild"])
    credit = Element("span", {"class": "credit"})
    credit.text = "Jane Doe"
    figure.append(caption)
    figure.append(credit)
    return figure


def _fragment(rng: random.Random, key: str, selector: Any) -> Element:
    """A generated DOM for one selector; up to ``FRAGMENT_TRIES`` are
    drawn, keeping the first on which the selector finds something."""
    for _ in range(FRAGMENT_TRIES):
        root = build_dom(rng, *_vocabulary(key))
        try:
            if selector(root):
                break
        except Exception:  # noqa: BLE001 — a raising selector keeps its last draw
            pass
    return root


def build_page(rng: random.Random, module: Any, selectors: Dict[str, Any]) -> ParseContext:
    """The head is parsed from HTML; the generated fragments are grafted
    into ``<main>`` as built, since the HTML parser's implied end tags
    would reshape many of them. ``ctx.html`` is the serialized page."""
    keys = _module_keys(module)
    head = [f"<title>{html.escape(rng.choice(_NAMES + _LISTS))}</title>"]
    head += _meta_tags(rng, keys)
    ld = _ld_block(rng, keys, _module_literals(module))
    head.append(f'<script type="application/ld+json">{json.dumps(ld, ensure_ascii=False)}</script>')
    skeleton = "<!DOCTYPE html><html><head>" + "".join(head) + "</head><body><main></main></body></html>"
    doc = parse_html(skeleton)
    main = next(el for el in doc.iter() if el.tag == "main")
    for n in range(FRAGMENTS_PER_PAGE):
        if selectors:
            key = rng.choice(list(selectors))
            for child in list(_fragment(rng, key, selectors[key]).children):
                for img in child.iter():
                    if img.tag == "img" and "src" not in img.attrib:
                        img.attrib.update(src="https://img.example.com/photo.jpg", width="640")
                main.append(child)
        if rng.random() < 0.5:
            main.append(_figure(rng, n))
    page = skeleton.replace("<main></main>", _serialize(main))
    return ParseContext(html=page, doc=doc, meta=harvest_meta(doc), ld=extract_linked_data(doc))


def _canonical(value: Any) -> Any:
    if isinstance(value, BaseException):
        return ["error", type(value).__name__]
    if isinstance(value, (datetime.datetime, datetime.date)):
        return ["datetime", value.isoformat()]
    if isinstance(value, dict):
        return {str(k): _canonical(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_canonical(v) for v in value]
    if value is None or isinstance(value, (str, int, float, bool)):
        return value
    raise TypeError(f"unexpected rule output type {type(value).__name__}")


def _day(version: Any) -> datetime.date:
    return min(version.valid_until, datetime.date(2025, 6, 1))


def run_version(version: Any, ctx: ParseContext) -> Dict[str, Any]:
    """``run_extraction``'s loop over one version, errors caught by type."""
    out: Dict[str, Any] = {}
    for step in version.ordered(_day(version)):
        try:
            value = step.fn(ctx)
        except Exception as exc:  # noqa: BLE001 — an error is an output too
            value = exc
        if step.kind != "function" or isinstance(value, BaseException):
            out[step.name] = value
    return out


def _non_default(name: str, value: Any) -> bool:
    if isinstance(value, BaseException) or value is None:
        return False
    if name == "body":
        return any(section["paragraphs"] for section in value["sections"])
    return bool(value)


@contextlib.contextmanager
def _pinned_clock() -> Iterator[None]:
    """``generics``' view of dateutil and ``time`` with today pinned."""
    parse = functools.partial(generics._dateutil_parser.parse, default=_FIXED_NOW)
    clock = types.SimpleNamespace(localtime=lambda *_: _FIXED_NOW.timetuple())
    with mock.patch.object(generics, "_dateutil_parser", types.SimpleNamespace(parse=parse)):
        with mock.patch.object(generics, "time", clock):
            yield


def version_digest(key: str, version: Any, module: Any, selectors: Dict[str, Any]) -> Tuple[str, Set[str]]:
    """(sha256 over the version's outputs on its pages, attributes with a
    non-default value on some page); call under ``_pinned_clock``."""
    rng = random.Random(key)
    h = hashlib.sha256()
    hit: Set[str] = set()
    for _ in range(PAGES_PER_VERSION):
        out = run_version(version, build_page(rng, module, selectors))
        h.update(json.dumps(_canonical(out), sort_keys=True, ensure_ascii=False).encode())
        hit.update(name for name, value in out.items() if _non_default(name, value))
    return h.hexdigest(), hit


def all_digests() -> Tuple[Dict[str, str], Dict[str, List[int]]]:
    """Per-version digests, and per attribute [versions with a non-default
    value on some page, versions carrying the attribute]."""
    digests: Dict[str, str] = {}
    coverage: Dict[str, List[int]] = {name: [0, 0] for name in COVERAGE_FLOORS}
    with _pinned_clock():
        for key, version, module in distinct_versions():
            selectors = version_selectors(version) or _module_selectors(module)
            digests[key], hit = version_digest(key, version, module, selectors)
            for name, counts in coverage.items():
                if any(e.name == name for e in version.extractors):
                    counts[0] += name in hit
                    counts[1] += 1
    return digests, coverage


def test_rule_specs_match_frozen_digests():
    frozen = json.loads(DIGESTS_PATH.read_text())
    digests, coverage = all_digests()
    assert sorted(digests) == sorted(frozen), "the set of versions changed (run this file with --write)"
    changed = [key for key, digest in digests.items() if digest != frozen[key]]
    assert not changed, f"{len(changed)} versions changed output, e.g. {changed[:5]}"
    # the pages must exercise the rules: most versions yield real values
    for name, (hit, total) in coverage.items():
        assert hit >= COVERAGE_FLOORS[name] * total, (name, hit, total)


def main(argv: List[str]) -> None:
    digests, coverage = all_digests()
    if "--write" in argv:
        DIGESTS_PATH.write_text(json.dumps(digests, indent=1, sort_keys=True) + "\n")
    print(json.dumps({"versions": len(digests), "coverage": coverage}))


if __name__ == "__main__":
    main(sys.argv[1:])
