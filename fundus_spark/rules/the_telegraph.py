"""The Telegraph rule spec — semantics per reference
``src/fundus/publishers/uk/the_telegraph.py`` (V1 valid until
2024-09-09, V1_1 after — only the date source changes).
"""

from __future__ import annotations

import datetime
from typing import Optional

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath, generic_date_parsing
from ._common import (
    authors_from_meta,
    date_from_ld,
    free_access,
    make_body,
    make_images,
    title_from_meta,
    topics_from_meta,
)

_PARAGRAPH = CSSSelector("div.articleBodyText p")
_SUBHEAD = CSSSelector("div.articleBodyText h2")
_SUMMARY = CSSSelector("p[itemprop='description']")
_DATETIME = CSSSelector("time[itemprop='datePublished']")
_CAPTION = XPath("./ancestor::figure//figcaption/span[1]")


def _publishing_date_v1(ctx: ParseContext) -> Optional[datetime.datetime]:
    nodes = _DATETIME(ctx.doc)
    if nodes:
        return generic_date_parsing(nodes[0].get("datetime"))
    return None


_SHARED = [
    Extractor("body", make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD)),
    Extractor("authors", authors_from_meta("DCSext.author"), default=list),
    Extractor("title", title_from_meta()),
    Extractor("topics", topics_from_meta(), default=list),
    Extractor("images", make_images(_PARAGRAPH, caption_selector=_CAPTION, relative_urls=True), default=list),
    Extractor("free_access", free_access, default=False),
]

THE_TELEGRAPH = PublisherSpec(
    key="uk.TheTelegraph",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2024, 9, 9),
            extractors=tuple([Extractor("publishing_date", _publishing_date_v1)] + _SHARED),
        ),
        VersionSpec(
            name="V1_1",
            extractors=tuple([Extractor("publishing_date", date_from_ld())] + _SHARED),
        ),
    ),
)
