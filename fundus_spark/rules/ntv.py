"""n-tv rule spec — semantics per reference
``src/fundus/publishers/de/ntv.py`` (V1 until 2024-08-01, V1_1 until
2025-11-05 with a deprecated DOM-author attribute, V1_2 after).
"""

from __future__ import annotations

import datetime
import re
from typing import List

from ..kernel import (
    CSSSelector,
    Extractor,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    apply_substitution_pattern_over_list,
    generic_author_parsing,
)
from ._common import date_from_meta, free_access, make_body, make_images, title_from_meta, topics_from_meta

_AUTHOR_SUB = re.compile(r"n-tv NACHRICHTEN")
_V1_SUMMARY = XPath("//div[@class='article__text']/p[not(last()) and strong][1]")
_V1_PARAGRAPH = XPath("//div[@class='article__text']/p[not(strong) or (strong and (position() > 1 or last()))]")
_V1_SUBHEAD = CSSSelector(".article__text > h2")
_V1_IMAGE = XPath("//figure[not(contains(@class, 'teaser'))]//picture/img")
_V1_UPPER = XPath("//article[@class='article']")
_V1_CAPTION = XPath("./ancestor::figure//figcaption/p[@class='article__caption']")
_V1_CREDIT = XPath("./ancestor::figure//figcaption/p[@class='article__credit']")

_V11_AUTHOR = XPath("string(//span[@class='article__author'])")
_V11_DEPRECATED = datetime.date(2025, 11, 6)

_V12_SUMMARY = XPath("//div[@class='wrapper-article'] //p[contains(@class, 'leadtext')]")
_V12_PARAGRAPH = XPath("//div[@class='wrapper-article'] //p[contains(@class, 'paragraph')]")
_V12_SUBHEAD = XPath("//div[@class='wrapper-article'] //h2[contains(@class, 'subheadline')]")
_V12_UPPER = XPath("//article")
_V12_CAPTION = XPath("./ancestor::figure//figcaption")
_V12_CREDIT = re.compile(r"(?P<credits>\([^(^)]*\))$")


def _authors_v1(ctx: ParseContext) -> List[str]:
    initial = generic_author_parsing(ctx.meta.get("author"))
    return apply_substitution_pattern_over_list(initial, _AUTHOR_SUB)


def _authors_v11(ctx: ParseContext) -> List[str]:
    author_text: str = _V11_AUTHOR(ctx.doc)
    return generic_author_parsing(author_text.replace("Von", ""))


_V1_IMAGES = make_images(
    _V1_PARAGRAPH,
    image_selector=_V1_IMAGE,
    upper_boundary_selector=_V1_UPPER,
    caption_selector=_V1_CAPTION,
    author_selector=_V1_CREDIT,
)

_COMMON = [
    Extractor("publishing_date", date_from_meta("date")),
    Extractor("title", title_from_meta()),
    Extractor("topics", topics_from_meta(), default=list),
    Extractor("free_access", free_access, default=False),
]

NTV = PublisherSpec(
    key="de.NTV",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2024, 8, 1),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                    Extractor("authors", _authors_v1, default=list),
                    Extractor("images", _V1_IMAGES, default=list),
                ]
                + _COMMON
            ),
        ),
        VersionSpec(
            name="V1_1",
            valid_until=datetime.date(2025, 11, 5),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                    Extractor("authors", _authors_v11, default=list, deprecated=_V11_DEPRECATED),
                    Extractor("images", _V1_IMAGES, default=list),
                ]
                + _COMMON
            ),
        ),
        VersionSpec(
            name="V1_2",
            extractors=tuple(
                [
                    Extractor("body", make_body(_V12_PARAGRAPH, summary=_V12_SUMMARY, subheadline=_V12_SUBHEAD)),
                    Extractor("authors", _authors_v11, default=list, deprecated=_V11_DEPRECATED),
                    Extractor(
                        "images",
                        make_images(
                            _V12_PARAGRAPH,
                            upper_boundary_selector=_V12_UPPER,
                            caption_selector=_V12_CAPTION,
                            author_selector=_V12_CREDIT,
                        ),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
    ),
)
