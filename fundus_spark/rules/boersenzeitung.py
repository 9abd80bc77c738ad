"""Börsen-Zeitung rule spec — semantics per reference
``src/fundus/publishers/de/boersenzeitung.py`` (V1 until 2024-12-09,
V1_1 until 2025-10-01, V1_2 after; paywall-selector free_access).
"""

from __future__ import annotations

import datetime
import re
from typing import List, Optional

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath
from ._common import authors_from_ld, authors_from_meta, date_from_meta, make_body, make_images

_PARAGRAPH = CSSSelector(".no-tts p")
_SUBHEAD = XPath("//p[contains(@class, 'interline')]")
_V1_SUMMARY = XPath("//storefront-html[@class='excerpt']/div")
_V1_TOPIC = XPath("//a[contains(@href, '/thema')]/span")
_PAYWALL = CSSSelector("storefront-html.paywall-headline > div")
_TITLE_BLOAT = re.compile(r"\|.*")
_UPPER = XPath("//h1|//script")
_IMAGE = XPath("//storefront-image|//figure//img")
_CREDIT = XPath("./ancestor::storefront-section//storefront-html[@class='image-copyright']")

_V12_SUMMARY = XPath("//div[@class='pxp-html excerpt']")
_V12_TOPIC = XPath("//div[contains(@class,'taglist')]//button")


def _title(ctx: ParseContext) -> Optional[str]:
    if fulltitle := ctx.meta.get("og:title"):
        return re.sub(_TITLE_BLOAT, "", fulltitle).strip()
    return None


def _topics(selector):
    def fn(ctx: ParseContext) -> List[str]:
        return [node.text_content().strip() for node in selector(ctx.doc)]

    return fn


def _free_access(ctx: ParseContext) -> bool:
    return not [node.text_content().strip() for node in _PAYWALL(ctx.doc)]


_SHARED = [
    Extractor("title", _title),
    Extractor("free_access", _free_access, default=True),
    Extractor(
        "images",
        make_images(_PARAGRAPH, upper_boundary_selector=_UPPER, image_selector=_IMAGE, author_selector=_CREDIT),
        default=list,
    ),
]

BOERSEN_ZEITUNG = PublisherSpec(
    key="de.BoersenZeitung",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2024, 12, 9),
            extractors=tuple(
                [
                    Extractor("body", make_body(_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_SUBHEAD)),
                    Extractor("authors", authors_from_meta("twitter:misc:Written by"), default=list),
                    Extractor("publishing_date", date_from_meta("article:published:time")),
                    Extractor("topics", _topics(_V1_TOPIC), default=list),
                ]
                + _SHARED
            ),
        ),
        VersionSpec(
            name="V1_1",
            valid_until=datetime.date(2025, 10, 1),
            extractors=tuple(
                [
                    Extractor("body", make_body(_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_SUBHEAD)),
                    Extractor("authors", authors_from_meta("twitter:data1"), default=list),
                    Extractor("publishing_date", date_from_meta("article:published_time")),
                    Extractor("topics", _topics(_V1_TOPIC), default=list),
                ]
                + _SHARED
            ),
        ),
        VersionSpec(
            name="V1_2",
            extractors=tuple(
                [
                    Extractor("body", make_body(_PARAGRAPH, summary=_V12_SUMMARY, subheadline=_SUBHEAD)),
                    Extractor("authors", authors_from_ld(), default=list),
                    Extractor("publishing_date", date_from_meta("article:published_time")),
                    Extractor("topics", _topics(_V12_TOPIC), default=list),
                ]
                + _SHARED
            ),
        ),
    ),
)
