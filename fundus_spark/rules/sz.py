"""Süddeutsche Zeitung rule spec — semantics per reference
``src/fundus/publishers/de/sz.py`` (V1 valid until 2024-02-01,
V1_1 after).
"""

from __future__ import annotations

import datetime

from ..kernel import CSSSelector, Extractor, PublisherSpec, VersionSpec, XPath
from ._common import authors_from_ld, date_from_ld, free_access, make_body, make_images, title_from_ld, topics_from_ld

_V1_PARAGRAPH = CSSSelector("main [itemprop='articleBody'] > p, main .css-korpch > div > ul > li")
_SUMMARY = CSSSelector("main [data-manual='teaserText']")
_V1_SUBHEAD = CSSSelector("main [itemprop='articleBody'] > h3")

_V11_PARAGRAPH = XPath(
    "//div[@itemprop='articleBody'] //p[@data-manual='paragraph' and not(contains(text(), '© dpa-infocom'))]"
)
_V11_SUBHEAD = XPath(
    "//div[@itemprop='articleBody']//h3[@data-manual='subheadline'] |"
    "//div[@itemprop='articleBody']//h2[@data-manual='subheadline']"
)

_CAPTION = XPath("./ancestor::figure//figcaption/text()")
_CREDIT = XPath("./ancestor::figure//figcaption/small")


_COMMON = [
    Extractor("authors", authors_from_ld(), default=list),
    Extractor("publishing_date", date_from_ld()),
    Extractor("title", title_from_ld()),
    Extractor("topics", topics_from_ld(), default=list),
    Extractor("free_access", free_access, default=False),
]

SZ = PublisherSpec(
    key="de.SZ",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2024, 2, 1),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_SUMMARY, subheadline=_V1_SUBHEAD)),
                    Extractor(
                        "images",
                        make_images(_V1_PARAGRAPH, caption_selector=_CAPTION, author_selector=_CREDIT),
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
                    Extractor("body", make_body(_V11_PARAGRAPH, summary=_SUMMARY, subheadline=_V11_SUBHEAD)),
                    Extractor(
                        "images",
                        make_images(_V11_PARAGRAPH, caption_selector=_CAPTION, author_selector=_CREDIT),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
    ),
)
