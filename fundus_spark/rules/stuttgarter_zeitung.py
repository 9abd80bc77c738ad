"""Stuttgarter Zeitung rule spec — semantics per reference
``src/fundus/publishers/de/stuttgarter_zeitung.py`` (V1 valid until
2026-06-29, V2 after).
"""

from __future__ import annotations

import datetime
from typing import List

from ..kernel import (
    CSSSelector,
    Extractor,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    generic_nodes_to_text,
    generic_topic_parsing,
)
from ._common import authors_from_ld, date_from_ld, free_access, make_body, make_images, title_from_meta, topics_from_ld

_V1_PARAGRAPH = CSSSelector("div.article-body p")
_V1_SUBHEAD = CSSSelector("div.article-body h2")
_V1_IMAGE = XPath("//figure//picture//img")
_V1_CAPTION = XPath("./ancestor::figure//figcaption")

_V2_SUMMARY = XPath("//section[@class='u-article-header']/div/span[not(contains(@class,'u-article-type-flag'))]")
_V2_PARAGRAPH = XPath("//article//p[@class='u-paragraph'] | //article//ul[@class='u-list']/li[text()]")
_V2_SUBHEAD = XPath("//article//h2[contains(@class,'u-headline')]")
_V2_TOPIC = XPath("//ul[@class='u-tags__list']//li")
_V2_BLOAT = {"alle themen"}
_V2_IMAGE = XPath("//figure[not(contains(@class, 'teaser'))]//img")
_V2_CAPTION = XPath("./ancestor::figure//figcaption/p")
_V2_CREDIT = XPath("./ancestor::figure//figcaption/span")


def _topics_v2(ctx: ParseContext) -> List[str]:
    return generic_topic_parsing(generic_nodes_to_text(_V2_TOPIC(ctx.doc)), result_filter=_V2_BLOAT)


_COMMON = [
    Extractor("publishing_date", date_from_ld()),
    Extractor("authors", authors_from_ld(), default=list),
    Extractor("title", title_from_meta()),
    Extractor("free_access", free_access, default=False),
]

STUTTGARTER_ZEITUNG = PublisherSpec(
    key="de.StuttgarterZeitung",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2026, 6, 29),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, subheadline=_V1_SUBHEAD)),
                    Extractor("topics", topics_from_ld(), default=list),
                    Extractor(
                        "images",
                        make_images(
                            _V1_PARAGRAPH, image_selector=_V1_IMAGE, caption_selector=_V1_CAPTION, relative_urls=True
                        ),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
        VersionSpec(
            name="V2",
            extractors=tuple(
                [
                    Extractor("body", make_body(_V2_PARAGRAPH, summary=_V2_SUMMARY, subheadline=_V2_SUBHEAD)),
                    Extractor("topics", _topics_v2, default=list),
                    Extractor(
                        "images",
                        make_images(
                            _V2_PARAGRAPH,
                            image_selector=_V2_IMAGE,
                            caption_selector=_V2_CAPTION,
                            author_selector=_V2_CREDIT,
                        ),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
    ),
)
