"""Rolling Stone rule spec — semantics per reference
``src/fundus/publishers/us/rolling_stone.py`` (V1 valid until
2024-08-22, V1_1 after).
"""

from __future__ import annotations

import datetime

from ..kernel import CSSSelector, Extractor, PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_meta,
    date_from_ld,
    date_from_meta,
    free_access,
    make_body,
    make_images,
    title_from_meta,
    title_from_root,
    topics_from_ld,
    topics_from_meta,
)

_PARAGRAPH = CSSSelector("div.a-content p.paragraph")
_SUMMARY = CSSSelector("div.article-excerpt")
_SUBHEAD = CSSSelector("div.a-content h2.heading,div.a-content div#pmc-gallery-vertical h2")
_CAPTION = XPath("./ancestor::figure//figcaption//span")
_CREDIT = XPath("./ancestor::figure//figcaption//cite")


_SHARED = [
    Extractor("body", make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD)),
    Extractor("authors", authors_from_meta("author"), default=list),
    Extractor("images", make_images(_PARAGRAPH, caption_selector=_CAPTION, author_selector=_CREDIT), default=list),
    Extractor("free_access", free_access, default=False),
]

ROLLING_STONE = PublisherSpec(
    key="us.RollingStone",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2024, 8, 22),
            extractors=tuple(
                [
                    Extractor("publishing_date", date_from_meta("swiftype:published_at")),
                    Extractor("title", title_from_meta("swiftype:title")),
                    Extractor("topics", topics_from_meta("swiftype:topics"), default=list),
                ]
                + _SHARED
            ),
        ),
        VersionSpec(
            name="V1_1",
            extractors=tuple(
                [
                    Extractor("publishing_date", date_from_ld()),
                    Extractor("title", title_from_root),
                    Extractor("topics", topics_from_ld(), default=list),
                ]
                + _SHARED
            ),
        ),
    ),
)
