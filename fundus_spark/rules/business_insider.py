"""Business Insider rule spec — semantics per reference
``src/fundus/publishers/us/business_insider.py`` (V1 valid until
2025-03-24, V2 after).
"""

from __future__ import annotations

import datetime
from typing import List

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath, generic_topic_parsing
from ._common import authors_from_ld, date_from_ld, free_access, make_body, make_images, title_from_meta

_V1_SUMMARY = CSSSelector("article ul[class^='summary-list'] > li")
_V1_SUBHEAD = CSSSelector("article h2, div.slideshow-slide-container h2")
_V1_PARAGRAPH = XPath(
    """
    //article
    //div[contains(@class, 'content-lock-content')]
    /p[not(contains(@class, 'disclaimer'))] |
    //article
    //div[contains(@class, 'content-lock-content')]
    /div[contains(@class, 'premium-content')]
    /p[not(contains(@class, 'disclaimer'))] |
    //div[@class='slide-layout clearfix']
    /p[not(contains(@class, 'disclaimer'))]
    """
)
_V1_UPPER = XPath("//article")
_V1_IMAGE = XPath("//figure//img[not(@data-content-type)]")
_V1_CAPTION = XPath("./ancestor::figure//figcaption/span[@class='image-caption-text']")
_V1_CREDIT = XPath("./ancestor::figure//figcaption/span[@class='image-source-text']")

_V2_PARAGRAPH = XPath("//section[contains(@class, 'post-body-content')]/p")
_V2_SUMMARY = XPath("//div[@class='post-summary-bullets']//li")
_V2_SUBHEAD = XPath("//section[contains(@class, 'post-body-content')]/h2")


def _topics(ctx: ParseContext) -> List[str]:
    return generic_topic_parsing(
        ctx.meta.get("keywords") or ctx.ld.bf_search("keywords") or ctx.meta.get("news_keywords")
    )


_COMMON = [
    Extractor("authors", authors_from_ld(), default=list),
    Extractor("publishing_date", date_from_ld()),
    Extractor("title", title_from_meta("title")),
    Extractor("topics", _topics, default=list),
    Extractor("free_access", free_access, default=False),
]

BUSINESS_INSIDER = PublisherSpec(
    key="us.BusinessInsider",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2025, 3, 24),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                    Extractor(
                        "images",
                        make_images(
                            _V1_PARAGRAPH,
                            upper_boundary_selector=_V1_UPPER,
                            image_selector=_V1_IMAGE,
                            caption_selector=_V1_CAPTION,
                            author_selector=_V1_CREDIT,
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
                [Extractor("body", make_body(_V2_PARAGRAPH, summary=_V2_SUMMARY, subheadline=_V2_SUBHEAD))] + _COMMON
            ),
        ),
    ),
)
