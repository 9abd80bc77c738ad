"""Berliner Zeitung rule spec — semantics per reference
``src/fundus/publishers/de/berliner_zeitung.py`` (V1 valid until
2026-04-23, V2 after; V2 rewrites ``<br>`` runs into paragraph tags
via a priority-1 ``@function`` before body assembly).
"""

from __future__ import annotations

import datetime

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath, transform_breaks_to_tag
from ._common import (
    authors_from_meta,
    date_from_ld,
    make_body,
    make_images,
    std_extractors,
    title_from_meta,
    topics_from_ld,
    topics_from_nodes,
)

_V1_PARAGRAPH = CSSSelector("div[id=articleBody] > p")
_V1_SUMMARY = CSSSelector("div[data-testid=article-header] > p")
_V1_SUBHEAD = CSSSelector("div[id=articleBody] > h2")
_V1_IMAGE = XPath("//div[not(contains(@class, 'author') or contains(@class, 'preview'))]/img")
_V1_CREDIT = XPath(
    "./ancestor::div[@class='article_image-container__Yo6Cx']//span[@class='article_image-container-source__rbsO4']"
)
_V1_CAPTION = XPath(
    "./ancestor::div[@class='article_image-container__Yo6Cx']//span[@class='article_image-container-caption__lZ5kc']"
)

_V2_PARAGRAPH = XPath("//article//p[contains(@class, 'leading-7') and text()]")
_V2_SUBHEAD = XPath("//article//h2")
_V2_SUMMARY = XPath("//article//p[contains(@class, 'font-roboto font-normal')]")
_V2_IMAGE = XPath("//div[not(contains(@class, 'w-[48px] h-[48px]') or contains(@class, 'flex-shrink'))]/img")
_V2_TOPIC = XPath("//article//a[contains(@href, '/category/')]")
_V2_CREDIT = XPath(
    "./ancestor::div[@class='relative p-4 bg-blue-100' or @class='my-4']//p[contains(@class, 'text-gray-700')]"
)
_V2_CAPTION = XPath(
    "./ancestor::div[@class='relative p-4 bg-blue-100' or @class='my-4']//p[contains(@class, 'text-gray-800')]"
)


def _preprocess_v2(ctx: ParseContext) -> None:
    for node in _V2_PARAGRAPH(ctx.doc):
        transform_breaks_to_tag(node, replace=True)


BERLINER_ZEITUNG = PublisherSpec(
    key="de.BerlinerZeitung",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2026, 4, 23),
            extractors=std_extractors(
                body=make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD),
                authors=authors_from_meta("article:author"),
                date=date_from_ld(),
                title=title_from_meta(),
                topics=topics_from_ld(),
                images=make_images(
                    _V1_PARAGRAPH, image_selector=_V1_IMAGE, caption_selector=_V1_CAPTION, author_selector=_V1_CREDIT
                ),
            ),
        ),
        VersionSpec(
            name="V2",
            extractors=std_extractors(
                body=make_body(_V2_PARAGRAPH, summary=_V2_SUMMARY, subheadline=_V2_SUBHEAD),
                authors=authors_from_meta("article:author"),
                date=date_from_ld(),
                title=title_from_meta(),
                topics=topics_from_nodes(_V2_TOPIC),
                images=make_images(
                    _V2_PARAGRAPH, image_selector=_V2_IMAGE, caption_selector=_V2_CAPTION, author_selector=_V2_CREDIT
                ),
                extra=(Extractor("_preprocess", _preprocess_v2, kind="function", priority=1),),
            ),
        ),
    ),
)
