"""Daily Star rule spec — semantics per reference
``src/fundus/publishers/uk/daily_star.py`` (V1 valid until 2026-04-09,
V1_1 after).
"""

from __future__ import annotations

import datetime
import re

from ..kernel import CSSSelector, Extractor, PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_meta,
    date_from_meta,
    free_access,
    make_body,
    make_images,
    title_from_ld_path,
    title_from_meta,
    topics_from_meta,
)

_V1_SUMMARY = CSSSelector("p.sub-title")
_V1_PARAGRAPH = XPath("//div[@class='article-body'] /p[text()]")
_V1_IMAGE = CSSSelector("figure.in-article-image img")
_V1_CAPTION = XPath("./ancestor::figure//figcaption/span[@class='caption']")
_V1_CREDIT = XPath("./ancestor::figure//figcaption/span[@class='credit']")

_V11_SUMMARY = XPath("//h2[@data-testid='leadtext']")
_V11_SUBHEAD = XPath("//h3[contains(@class, 'heading-three')]")
_V11_PARAGRAPH = XPath("//ul[@data-tmdatatrack='content-unit']/li | //article/p[text()]")
_V11_CAPTION = XPath("./ancestor::div[contains(@class, 'ImageEmbed_image-embed')]//figcaption/p")
_V11_CREDIT = re.compile(r"(?i)\(image:(?P<credits>.*)\)$")


_COMMON = [
    Extractor("publishing_date", date_from_meta("article:published_time")),
    Extractor("authors", authors_from_meta("author"), default=list),
    Extractor("topics", topics_from_meta(), default=list),
    Extractor("free_access", free_access, default=False),
]

DAILY_STAR = PublisherSpec(
    key="uk.DailyStar",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2026, 4, 9),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=None)),
                    Extractor("title", title_from_meta()),
                    Extractor(
                        "images",
                        make_images(
                            _V1_PARAGRAPH,
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
            name="V1_1",
            extractors=tuple(
                [
                    Extractor("body", make_body(_V11_PARAGRAPH, summary=_V11_SUMMARY, subheadline=_V11_SUBHEAD)),
                    Extractor("title", title_from_ld_path("//NewsArticle/headline")),
                    Extractor(
                        "images",
                        make_images(_V11_PARAGRAPH, caption_selector=_V11_CAPTION, author_selector=_V11_CREDIT),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
    ),
)
