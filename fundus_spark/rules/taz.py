"""taz rule spec — semantics per reference
``src/fundus/publishers/de/taz.py`` (V1 valid until 2024-10-14,
V2 after).
"""

from __future__ import annotations

import datetime

from ..kernel import CSSSelector, PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_ld,
    authors_from_meta,
    date_from_ld,
    date_from_meta,
    make_body,
    make_images,
    std_extractors,
    title_from_meta,
    topics_from_meta,
)

_V1_PARAGRAPH = CSSSelector(".sectbody > p[class*='article']")
_V1_SUMMARY = CSSSelector(".intro")
_V1_SUBHEAD = CSSSelector(".sectbody > h6")

_V2_PARAGRAPH = CSSSelector(".main-article-corpus p.bodytext.paragraph")
_V2_SUMMARY = CSSSelector("article > p.column.typo-r-subline-detail")
_V2_SUBHEAD = CSSSelector(".main-article-corpus h2")
_V2_IMAGE = XPath("//div[@data-for='picture']//img[not(@class)]")
_V2_CAPTION = XPath("./ancestor::div[@data-for='picture']/figcaption/text()")
_V2_CREDIT = XPath("./ancestor::div[@data-for='picture']/figcaption/span")


TAZ = PublisherSpec(
    key="de.Taz",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2024, 10, 14),
            extractors=std_extractors(
                body=make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD),
                authors=authors_from_meta("author"),
                date=date_from_meta("article:published_time"),
                title=title_from_meta("taz:title"),
                topics=topics_from_meta(),
            ),
        ),
        VersionSpec(
            name="V2",
            extractors=std_extractors(
                body=make_body(_V2_PARAGRAPH, summary=_V2_SUMMARY, subheadline=_V2_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_meta("taz:title"),
                topics=topics_from_meta("taz:tag"),
                images=make_images(
                    _V2_PARAGRAPH, image_selector=_V2_IMAGE, caption_selector=_V2_CAPTION, author_selector=_V2_CREDIT
                ),
            ),
        ),
    ),
)
