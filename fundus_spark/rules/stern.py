"""Stern rule spec — semantics per reference
``src/fundus/publishers/de/stern.py`` (V1 valid until 2024-10-26,
V2 after).
"""

from __future__ import annotations

import datetime
from typing import List

from ..kernel import CSSSelector, ParseContext, PublisherSpec, VersionSpec, XPath, generic_author_parsing
from ._common import (
    authors_from_nodes,
    date_from_ld,
    date_from_meta,
    make_body,
    make_images,
    std_extractors,
    title_from_meta,
    topics_from_nodes,
)

_V1_PARAGRAPH = CSSSelector(".article__body >p")
_V1_SUMMARY = CSSSelector(".intro__text")
_V1_SUBHEAD = CSSSelector(".subheadline-element")
_V1_TOPIC = CSSSelector(".article__tags li.links__item")

_V2_PARAGRAPH = CSSSelector(".article__body > .text-element > p")
_V2_SUMMARY = CSSSelector(".article__body > .intro")
_V2_SUBHEAD = CSSSelector(".article__body > .subheadline-element")
_V2_TOPIC = CSSSelector("ul.tags > li")
_V2_AUTHOR = CSSSelector("span.authors__list-plaintext, a.authors__list-link, span.typo-article-info-bold")

_IMAGE = XPath("//figure[not(contains(@class, 'teaser'))]//img")
_CAPTION = XPath("./ancestor::figure//figcaption//div[contains(@class,'caption')]")
_CREDIT = XPath("./ancestor::figure//figcaption//div[contains(@class,'credits')]")


def _authors_v1(ctx: ParseContext) -> List[str]:
    initial = generic_author_parsing(ctx.ld.bf_search("author"))
    return [el for el in initial if el != "STERN.de"]


def _topics_v1(ctx: ParseContext) -> List[str]:
    return [node.text_content().strip("\n ") for node in _V1_TOPIC(ctx.doc)]


STERN = PublisherSpec(
    key="de.Stern",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2024, 10, 26),
            extractors=std_extractors(
                body=make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD),
                authors=_authors_v1,
                date=date_from_meta("date"),
                title=title_from_meta(),
                topics=_topics_v1,
                images=make_images(
                    _V1_PARAGRAPH,
                    image_selector=_IMAGE,
                    lower_boundary_selector=_V1_TOPIC,
                    caption_selector=_CAPTION,
                    author_selector=_CREDIT,
                ),
            ),
        ),
        VersionSpec(
            name="V2",
            extractors=std_extractors(
                body=make_body(_V2_PARAGRAPH, summary=_V2_SUMMARY, subheadline=_V2_SUBHEAD),
                authors=authors_from_nodes(_V2_AUTHOR),
                date=date_from_ld(),
                title=title_from_meta(),
                topics=topics_from_nodes(_V2_TOPIC),
                images=make_images(
                    _V2_PARAGRAPH,
                    image_selector=_IMAGE,
                    lower_boundary_selector=_V2_TOPIC,
                    caption_selector=_CAPTION,
                    author_selector=_CREDIT,
                ),
            ),
        ),
    ),
)
