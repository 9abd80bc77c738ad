"""NDR rule spec — semantics per reference
``src/fundus/publishers/de/ndr.py`` (V1 valid until 2025-06-16,
V1_1 after).
"""

from __future__ import annotations

import datetime
import re
from typing import List

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath, generic_topic_parsing
from ._common import (
    authors_from_ld_path,
    date_from_ld,
    free_access,
    make_body,
    make_images,
    title_from_meta,
    topics_from_meta,
)

_V1_PARAGRAPH = XPath(
    "//div[@class='modulepadding copytext']/p[not(@class='textauthor' or @class='preface')] "
    "| //div[@class='modulepadding copytext']/ul/li"
)
_V1_SUMMARY = CSSSelector(".preface")
_V1_SUBHEAD = CSSSelector("article .modulepadding > h2")
_V1_UPPER = XPath("//div[@id='page']")
_V1_IMAGE = XPath(
    "//div[@id='page']//*[(self::div and not(@class='teaserimage')) or (self::a and @class='zoomimage')]"
    "/div[contains(@class,'image-container')]//picture//img"
)
_CANONICAL = XPath("string(//link[@rel='canonical']/@href)")
_V1_CAPTION = XPath("./ancestor::div[contains(@class,'contentimage')]//span[@class='caption']")
_CREDIT = re.compile(r"(?i)©\s*(ndr)?\s*(foto)?:?\s*(?P<credits>.+)")

_V11_PARAGRAPH = XPath("//article/p[not(@class='textauthor')] | //article/ul/li | //article/blockquote")
_V11_SUBHEAD = XPath("//article/h2")
_V11_SUMMARY = XPath("//header/p[@class='preface']")
_V11_UPPER = XPath("//article")
_V11_IMAGE = XPath("//article//div[contains(@class,'contentimage') or contains(@class, 'herocontainer')]//picture//img")
_V11_CAPTION = XPath("./ancestor::div[contains(@class,'contentimage')]//span[contains(@class, 'caption')]")
_BLOAT_KEYWORDS = ["hh", "regionalmeldungen", "News", "kurzmeldungen", "Nachrichten", "aktuell"]


def _topics_v11(ctx: ParseContext) -> List[str]:
    return [t for t in generic_topic_parsing(ctx.meta.get("keywords")) if t not in _BLOAT_KEYWORDS]


_COMMON = [
    Extractor("publishing_date", date_from_ld()),
    Extractor("authors", authors_from_ld_path("(//Article | //NewsArticle) /author"), default=list),
    Extractor("title", title_from_meta("title")),
    Extractor("free_access", free_access, default=False),
]

NDR = PublisherSpec(
    key="de.NDR",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2025, 6, 16),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                    Extractor("topics", topics_from_meta(), default=list),
                    Extractor(
                        "images",
                        make_images(
                            _V1_PARAGRAPH,
                            upper_boundary_selector=_V1_UPPER,
                            image_selector=_V1_IMAGE,
                            relative_urls=_CANONICAL,
                            caption_selector=_V1_CAPTION,
                            author_selector=_CREDIT,
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
                    Extractor("topics", _topics_v11, default=list),
                    Extractor(
                        "images",
                        make_images(
                            _V11_PARAGRAPH,
                            upper_boundary_selector=_V11_UPPER,
                            relative_urls=_CANONICAL,
                            image_selector=_V11_IMAGE,
                            caption_selector=_V11_CAPTION,
                            author_selector=_CREDIT,
                        ),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
    ),
)
