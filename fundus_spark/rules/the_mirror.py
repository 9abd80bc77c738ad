"""The Mirror rule spec — semantics per reference
``src/fundus/publishers/uk/the_mirror.py`` (V1 until 2024-07-26,
V1_1 until 2025-11-19, V1_2 after).
"""

from __future__ import annotations

import datetime
from typing import Optional

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath, generic_date_parsing
from ._common import (
    authors_from_meta,
    date_from_ld,
    date_from_meta,
    free_access,
    make_body,
    make_images,
    title_from_meta,
    topics_from_meta,
)

_V1_PARAGRAPH = XPath(
    "/html/body/main/article/div[@class='article-body']/p[text()] | "
    "//div[@class='article-body']//div[@class='live-event-lead-entry']/p[text()] | "
    "//div[@class='article-body']//div[@class='entry-content']/p[text()]"
)
_V1_SUMMARY = XPath("/html/body/main/article/div[@class='lead-content']/p")
_V1_SUBHEAD = XPath("//div[@class='article-body']/h3 | //div[@class='article-body']//div[@class='entry-content']/h3")
_V1_IMAGE = CSSSelector("div.image > img, div.image-container amp-img")
_V1_CAPTION = XPath("./ancestor::div[@class='lead-content' or @class='image-container']//figcaption//span[1]")
_V1_CREDIT = XPath("./ancestor::div[@class='lead-content' or @class='image-container']//figcaption//span[2]")
_V1_LOWER = CSSSelector("reach-viafoura-comments")

_V11_DATETIME = CSSSelector("div.article-information[itemprop='datePublished']")

_V12_BLOAT = "^Like this story?|^Join our new WhatsApp"
_V12_SUMMARY = XPath("//article[@id='article-body'] /h2[contains(@class, 'lead-text')]")
_V12_PARAGRAPH = XPath(
    f"//article[@id='article-body']"
    f"/p[contains(@class, 'paragraph-text') and not(re:test(string(.), '{_V12_BLOAT}'))]"
)
_V12_SUBHEAD = XPath("//article[@id='article-body'] /h3 | //article[@id='article-body'] /h4")
_V12_LOWER = CSSSelector("reach-recirculation")
_V12_CAPTION = XPath(
    "./ancestor::div[contains(@class, 'ImageEmbed')]//figcaption//span[contains(@class, 'caption-title')]"
)
_V12_CREDIT = XPath(
    "./ancestor::div[contains(@class, 'ImageEmbed')]//figcaption//span[contains(@class, 'caption-credit')]"
)


def _publishing_date_v11(ctx: ParseContext) -> Optional[datetime.datetime]:
    if date_nodes := _V11_DATETIME(ctx.doc):
        return generic_date_parsing(date_nodes[0].attrib.get("content"))
    return None


_V1_IMAGES = make_images(
    _V1_PARAGRAPH,
    image_selector=_V1_IMAGE,
    caption_selector=_V1_CAPTION,
    author_selector=_V1_CREDIT,
    lower_boundary_selector=_V1_LOWER,
)

_COMMON = [
    Extractor("title", title_from_meta()),
    Extractor("authors", authors_from_meta("author"), default=list),
    Extractor("topics", topics_from_meta(), default=list),
    Extractor("free_access", free_access, default=False),
]

THE_MIRROR = PublisherSpec(
    key="uk.TheMirror",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2024, 7, 26),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                    Extractor("publishing_date", date_from_meta("parsely-pub-date")),
                    Extractor("images", _V1_IMAGES, default=list),
                ]
                + _COMMON
            ),
        ),
        VersionSpec(
            name="V1_1",
            valid_until=datetime.date(2025, 11, 19),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                    Extractor("publishing_date", _publishing_date_v11),
                    Extractor("images", _V1_IMAGES, default=list),
                ]
                + _COMMON
            ),
        ),
        VersionSpec(
            name="V1_2",
            extractors=tuple(
                [
                    Extractor("body", make_body(_V12_PARAGRAPH, summary=_V12_SUMMARY, subheadline=_V12_SUBHEAD)),
                    Extractor("publishing_date", date_from_ld()),
                    Extractor(
                        "images",
                        make_images(
                            _V12_PARAGRAPH,
                            lower_boundary_selector=_V12_LOWER,
                            caption_selector=_V12_CAPTION,
                            author_selector=_V12_CREDIT,
                        ),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
    ),
)
