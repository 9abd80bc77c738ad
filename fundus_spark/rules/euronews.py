"""Euronews (shared multi-tenant) rule spec — semantics per reference
``src/fundus/publishers/shared/euronews.py:18-80`` (V1 valid until
2025-11-24, V1_1 after).
"""

from __future__ import annotations

import datetime

from ..kernel import CSSSelector, Extractor, PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_ld_path,
    authors_from_meta,
    date_from_meta,
    free_access,
    make_body,
    make_images,
    title_from_meta,
    topics_from_meta,
)

_V1_SUMMARY = CSSSelector("p.c-article-summary")
_V11_SUMMARY = CSSSelector("h2.c-article-summary")
_SUBHEAD = CSSSelector("div.c-article-content > h2")
_PARAGRAPH = CSSSelector("div.c-article-content > p")

_IMAGE = XPath("//img[contains(@class, 'c-article-media__img') or contains(@class, 'widgetImage__image')]")
_CAPTION = XPath(
    "./ancestor::div[contains(@class, 'c-article-image-video')]"
    "//div[contains(@class, 'c-article-caption__content')]|"
    "./ancestor::figure//span[@class='widget__captionText']"
)
_IMG_AUTHOR = XPath(
    "./ancestor::div[contains(@class, 'c-article-image-video')]"
    "//div[contains(@class, 'c-article-image-copyright')]|"
    "./ancestor::figure//span[@class='widget__captionCredit']"
)


_COMMON = [
    Extractor("title", title_from_meta()),
    Extractor("publishing_date", date_from_meta("date.available")),
    Extractor("topics", topics_from_meta(), default=list),
    Extractor(
        "images",
        make_images(_PARAGRAPH, image_selector=_IMAGE, caption_selector=_CAPTION, author_selector=_IMG_AUTHOR),
        default=list,
    ),
    Extractor("free_access", free_access, default=False),
]

EURONEWS = PublisherSpec(
    key="shared.Euronews",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2025, 11, 24),
            extractors=tuple(
                [Extractor(
                    "body", make_body(_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_SUBHEAD)
                ), Extractor("authors", authors_from_ld_path("NewsArticle/author/name"), default=list)] + _COMMON
            ),
        ),
        VersionSpec(
            name="V1_1",
            extractors=tuple(
                [Extractor(
                    "body", make_body(_PARAGRAPH, summary=_V11_SUMMARY, subheadline=_SUBHEAD)
                ), Extractor("authors", authors_from_meta("article:author"), default=list)] + _COMMON
            ),
        ),
    ),
)
