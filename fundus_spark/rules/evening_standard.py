"""Evening Standard rule spec — semantics per reference
``src/fundus/publishers/uk/evening_standard.py`` (V1 valid until
2024-06-30, V1_1 after).
"""

from __future__ import annotations

import datetime

from ..kernel import CSSSelector, Extractor, PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_ld,
    date_from_ld,
    free_access,
    make_body,
    make_images,
    title_from_meta,
    topics_from_meta,
)

_V1_PARAGRAPH = CSSSelector("div.sc-bkSUFG.bdkDcZ")
_V1_SUMMARY = CSSSelector("div.sc-wkolL.dWZJhQ")

_V11_SUMMARY = XPath("//article//div[h1]/div[text()]")
_V11_SUBHEAD = XPath("//article//div[@class]/div[@class]/div/*[(self::h2 or self::h3) and not(@class)]")
_V11_PARAGRAPH = XPath("//article//div[@class]/div[@class]/div[not(@class)]/div/p")

_IMAGE = XPath("//picture[not(ancestor::a)] /img")
_UPPER = CSSSelector("article")
_CAPTION = XPath(
    "./ancestor::div[count(div)=3 and position() <= 2]/div[2] |"
    "./ancestor::div[picture and count(div)=2][1]/div[1]"
)
_CREDIT = XPath(
    "./ancestor::div[count(div)=3 and position() <= 2]/div[3] |"
    "./ancestor::div[picture and count(div)=2][1]/div[2]"
)
_LOWER = CSSSelector("div#piano-reg-wall")


_COMMON = [
    Extractor("title", title_from_meta()),
    Extractor("publishing_date", date_from_ld()),
    Extractor("authors", authors_from_ld(), default=list),
    Extractor("topics", topics_from_meta(), default=list),
    Extractor("free_access", free_access, default=False),
]

EVENING_STANDARD = PublisherSpec(
    key="uk.EveningStandard",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2024, 6, 30),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=None)),
                    Extractor(
                        "images",
                        make_images(
                            _V1_PARAGRAPH,
                            image_selector=_IMAGE,
                            upper_boundary_selector=_UPPER,
                            caption_selector=_CAPTION,
                            author_selector=_CREDIT,
                            lower_boundary_selector=_LOWER,
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
                    Extractor(
                        "images",
                        make_images(
                            _V11_PARAGRAPH,
                            image_selector=_IMAGE,
                            upper_boundary_selector=_UPPER,
                            caption_selector=_CAPTION,
                            author_selector=_CREDIT,
                            lower_boundary_selector=_LOWER,
                        ),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
    ),
)
