"""Shared extractor factories for the most common publisher patterns.

Most reference parsers are combinations of the same few moves: body via
selectors, authors/date/title/topics from JSON-LD or ``<meta>``, bounded
image extraction, default ``free_access``. Each factory returns a closure
that makes exactly the kernel call a hand-written extractor would, so a
rule module keeps only its publisher-specific selectors and logic.

Writing a rule with the factories:

- Build extractors from calls, not defs:
  ``Extractor("title", title_from_meta())``, or a whole version with
  ``std_extractors(body=make_body(...), authors=authors_from_ld(), ...)``
  when it has the standard attribute set. A def is for logic no factory
  expresses; ``tests/test_rule_factory_shapes.py`` fails on a top-level
  def whose body is a factory's body.
- Pass selectors by keyword whenever more than the paragraph selector is
  given: ``make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD)``,
  ``make_images(_PARAGRAPH, image_selector=_IMAGE, caption_selector=...)``,
  so no reader has to know a factory's positional order.
- Pass module-level ``XPath``/``CSSSelector`` bindings by name; do not
  inline, hoist or drop one. ``tests/test_selector_parity.py`` digests
  every module-level selector.
- Add a factory only for a shape that three or more rule modules share,
  register it in ``tools/audit_rules.py::FACTORY_DEFAULTS`` and in the
  shape scan, and give an existing factory no new parameter: a variant
  stays a def in its module.
- ``tests/test_rule_spec_parity.py`` pins every version's output; a
  rewrite onto the factories must leave its digests unchanged.
"""

from __future__ import annotations

import datetime
from typing import Any, Callable, Dict, List, Optional, Pattern, Sequence, Set, Union

from ..kernel import (
    Extractor,
    ParseContext,
    assemble_body,
    free_access_from_ld,
    generic_author_parsing,
    generic_date_parsing,
    generic_nodes_to_text,
    generic_topic_parsing,
    image_extraction,
    parse_title_from_root,
)

Selector = Callable[[Any], Sequence[Any]]


def make_body(
    paragraph: Selector,
    summary: Optional[Selector] = None,
    subheadline: Optional[Selector] = None,
    tag_filter: Optional[Callable[[Any], object]] = None,
) -> Callable[[ParseContext], Optional[Dict[str, Any]]]:
    def fn(ctx: ParseContext) -> Optional[Dict[str, Any]]:
        return assemble_body(
            ctx.doc,
            paragraph_selector=paragraph,
            summary_selector=summary,
            subheadline_selector=subheadline,
            tag_filter=tag_filter,
        )

    return fn


def authors_from_ld(key: str = "author") -> Callable[[ParseContext], List[str]]:
    def fn(ctx: ParseContext) -> List[str]:
        return generic_author_parsing(ctx.ld.bf_search(key))

    return fn


def authors_from_ld_path(query: str) -> Callable[[ParseContext], List[str]]:
    def fn(ctx: ParseContext) -> List[str]:
        return generic_author_parsing(ctx.ld.xpath_search(query))

    return fn


def authors_from_nodes(selector: Selector) -> Callable[[ParseContext], List[str]]:
    def fn(ctx: ParseContext) -> List[str]:
        return generic_author_parsing(generic_nodes_to_text(selector(ctx.doc)))

    return fn


def authors_from_meta(key: str) -> Callable[[ParseContext], List[str]]:
    def fn(ctx: ParseContext) -> List[str]:
        return generic_author_parsing(ctx.meta.get(key))

    return fn


def date_from_ld(key: str = "datePublished") -> Callable[[ParseContext], Optional[datetime.datetime]]:
    def fn(ctx: ParseContext) -> Optional[datetime.datetime]:
        return generic_date_parsing(ctx.ld.bf_search(key))

    return fn


def date_from_ld_path(query: str) -> Callable[[ParseContext], Optional[datetime.datetime]]:
    def fn(ctx: ParseContext) -> Optional[datetime.datetime]:
        return generic_date_parsing(ctx.ld.xpath_search(query, scalar=True))

    return fn


def date_from_meta(key: str) -> Callable[[ParseContext], Optional[datetime.datetime]]:
    def fn(ctx: ParseContext) -> Optional[datetime.datetime]:
        return generic_date_parsing(ctx.meta.get(key))

    return fn


def title_from_meta(key: str = "og:title") -> Callable[[ParseContext], Optional[str]]:
    def fn(ctx: ParseContext) -> Optional[str]:
        return ctx.meta.get(key)

    return fn


def title_from_ld(key: str = "headline") -> Callable[[ParseContext], Optional[str]]:
    def fn(ctx: ParseContext) -> Optional[str]:
        return ctx.ld.bf_search(key)

    return fn


def title_from_ld_path(query: str) -> Callable[[ParseContext], Optional[str]]:
    def fn(ctx: ParseContext) -> Optional[str]:
        return ctx.ld.xpath_search(query, scalar=True)

    return fn


def title_from_root(ctx: ParseContext) -> Optional[str]:
    return parse_title_from_root(ctx.doc)


def topics_from_meta(
    key: str = "keywords",
    delimiter: Union[str, List[str]] = ",",
    substitution_pattern: Optional[Pattern[str]] = None,
    result_filter: Optional[Union[Pattern[str], Set[str]]] = None,
) -> Callable[[ParseContext], List[str]]:
    def fn(ctx: ParseContext) -> List[str]:
        return generic_topic_parsing(
            ctx.meta.get(key),
            delimiter=delimiter,
            substitution_pattern=substitution_pattern,
            result_filter=result_filter,
        )

    return fn


def topics_from_ld(
    key: str = "keywords",
    delimiter: Union[str, List[str]] = ",",
    substitution_pattern: Optional[Pattern[str]] = None,
    result_filter: Optional[Union[Pattern[str], Set[str]]] = None,
) -> Callable[[ParseContext], List[str]]:
    def fn(ctx: ParseContext) -> List[str]:
        return generic_topic_parsing(
            ctx.ld.bf_search(key),
            delimiter=delimiter,
            substitution_pattern=substitution_pattern,
            result_filter=result_filter,
        )

    return fn


def topics_from_nodes(selector: Selector) -> Callable[[ParseContext], List[str]]:
    def fn(ctx: ParseContext) -> List[str]:
        return generic_topic_parsing(generic_nodes_to_text(selector(ctx.doc), normalize=True))

    return fn


def make_images(paragraph: Selector, **kwargs: Any) -> Callable[[ParseContext], List[Dict[str, Any]]]:
    def fn(ctx: ParseContext) -> List[Dict[str, Any]]:
        return [img.serialize() for img in image_extraction(doc=ctx.doc, paragraph_selector=paragraph, **kwargs)]

    return fn


def free_access(ctx: ParseContext) -> bool:
    return free_access_from_ld(ctx.ld)


def std_extractors(
    body: Callable[[ParseContext], Any],
    authors: Callable[[ParseContext], Any],
    date: Callable[[ParseContext], Any],
    title: Callable[[ParseContext], Any],
    topics: Callable[[ParseContext], Any],
    images: Optional[Callable[[ParseContext], Any]] = None,
    extra: Sequence[Extractor] = (),
) -> tuple:
    """The canonical attribute set every reference parser carries."""
    out = [
        Extractor("body", body),
        Extractor("authors", authors, default=list),
        Extractor("publishing_date", date),
        Extractor("title", title),
        Extractor("topics", topics, default=list),
        Extractor("free_access", free_access, default=False),
    ]
    if images is not None:
        out.append(Extractor("images", images, default=list))
    out.extend(extra)
    return tuple(out)
