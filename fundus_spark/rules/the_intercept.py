"""The Intercept rule spec — semantics per reference
``src/fundus/publishers/us/the_intercept.py`` (V1 valid until
2024-02-01, V1_1 after).
"""

from __future__ import annotations

import datetime
from typing import List

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath
from ._common import authors_from_ld_path, date_from_ld_path, free_access, make_body, make_images, title_from_ld_path

_V1_SUMMARY = CSSSelector("h2.Post-excerpt")
_V1_PARAGRAPH = CSSSelector("div.PostContent > div > p:not(p.caption):not(p.PhotoGrid-description)")
_V1_SUBHEAD = CSSSelector("div.PostContent > div > h2")

_V11_SUMMARY = XPath("//p[@class='post__excerpt'] | //h2[preceding-sibling::h1[contains(@class, 'post__title')]]")
_V11_PARAGRAPH = CSSSelector("div.entry-content > div.entry-content__content > p, blockquote > p")
_V11_SUBHEAD = CSSSelector("div.entry-content > div.entry-content__content > h2")

_V11_IMAGE = XPath(
    "//img[(string-length(@alt) > 0 and not(contains(@class, 'attachment') or contains(@class, ':hidden'))) "
    "or @loading='eager']|//figure//img"
)
_V11_CAPTION = XPath(
    "(./parent::article//div[contains(@class, 'image__caption')]/span[not(@class)])[1]|"
    "./ancestor::figure//figcaption/span[@class='photo__caption']"
)
_V11_CREDIT = XPath(
    "(./parent::article//div[contains(@class, 'image__caption')]/span)[last()]|"
    "./ancestor::figure//figcaption/span[@class='photo__credit']"
)


def _topics(ctx: ParseContext) -> List[str]:
    keywords: List[str] = ctx.ld.xpath_search("NewsArticle/keywords")
    return [keyword[9:] for keyword in keywords if keyword.startswith("Subject: ")]


_COMMON = [
    Extractor("authors", authors_from_ld_path("NewsArticle/author"), default=list),
    Extractor("publishing_date", date_from_ld_path("NewsArticle/datePublished")),
    Extractor("title", title_from_ld_path("NewsArticle/headline")),
    Extractor("topics", _topics, default=list),
    Extractor("free_access", free_access, default=False),
]

THE_INTERCEPT = PublisherSpec(
    key="us.TheIntercept",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2024, 2, 1),
            extractors=tuple(
                [Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD))] + _COMMON
            ),
        ),
        VersionSpec(
            name="V1_1",
            extractors=tuple(
                [
                    Extractor("body", make_body(_V11_PARAGRAPH, summary=_V11_SUMMARY, subheadline=_V11_SUBHEAD)),
                    Extractor(
                        "images",
                        make_images(
                            _V11_PARAGRAPH,
                            image_selector=_V11_IMAGE,
                            caption_selector=_V11_CAPTION,
                            author_selector=_V11_CREDIT,
                        ),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
    ),
)
