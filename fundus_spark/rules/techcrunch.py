"""TechCrunch rule spec — semantics per reference
``src/fundus/publishers/us/techcrunch.py`` (V1 valid until 2024-05-08,
V1_1 after), re-expressed over the from-scratch kernel.
"""

from __future__ import annotations

import datetime
import re
from typing import List, Optional

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath, generic_topic_parsing
from ._common import authors_from_meta, date_from_ld, free_access, make_body, make_images, topics_from_ld

_V1_SUMMARY = CSSSelector("div.article-content > p#speakable-summary")
_V1_PARAGRAPH = CSSSelector("div.article-content > p:not(#speakable-summary), div.article-content > ul > li")
_V1_SUBHEAD = CSSSelector("div.article-content > h2")

_V11_SUMMARY = CSSSelector("div.entry-content > p#speakable-summary")
_V11_PARAGRAPH = CSSSelector("div.entry-content > p:not(#speakable-summary), div.entry-content > ul > li")
_V11_SUBHEAD = CSSSelector("div.entry-content > h2")

_V11_UPPER = XPath(
    "//div[@class='article-hero__first-section']|"
    "//div[@class='is-floating wp-block-techcrunch-social-share']|"
    "//h1[@class='wp-block-post-title']"
)
_V11_CAPTION = XPath("./ancestor::figure//figcaption")
_V11_CREDIT = re.compile(r"(?i)image credits:(?P<credits>.*)")


def _title(ctx: ParseContext) -> Optional[str]:
    if headline := ctx.meta.get("og:title"):
        return headline.replace(" | TechCrunch", "")
    return None


def _topics_v1(ctx: ParseContext) -> List[str]:
    if topics := generic_topic_parsing(ctx.meta.get("keywords")):
        return topics
    return generic_topic_parsing(ctx.meta.get("sailthru.tags"))


_COMMON = [
    Extractor("publishing_date", date_from_ld()),
    Extractor("title", _title),
    Extractor("free_access", free_access, default=False),
]

TECHCRUNCH = PublisherSpec(
    key="us.TechCrunch",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2024, 5, 8),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                    Extractor("authors", authors_from_meta("sailthru.author"), default=list),
                    Extractor("topics", _topics_v1, default=list),
                ]
                + _COMMON
            ),
        ),
        VersionSpec(
            name="V1_1",
            extractors=tuple(
                [
                    Extractor("body", make_body(_V11_PARAGRAPH, summary=_V11_SUMMARY, subheadline=_V11_SUBHEAD)),
                    Extractor("authors", authors_from_meta("author"), default=list),
                    Extractor("topics", topics_from_ld(), default=list),
                    Extractor(
                        "images",
                        make_images(
                            _V11_PARAGRAPH,
                            upper_boundary_selector=_V11_UPPER,
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
