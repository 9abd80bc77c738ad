"""Golem rule spec — semantics per reference
``src/fundus/publishers/de/golem.py:18-71`` (V1 valid until 2025-08-21,
V1_1 after). Exercises the body ``tag_filter`` hook.
"""

from __future__ import annotations

import datetime
import re
from typing import Optional

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath
from ._common import authors_from_ld, date_from_ld, free_access, make_body, make_images, topics_from_meta

_BLOAT = r"^Dieser Artikel enthält sogenannte Affiliate-Links"
_V1_SUMMARY = XPath("//hgroup/p")
_V1_PARAGRAPH = XPath(f"//section /p[not(@class='meta' or re:test(string(), '{_BLOAT}'))]")
_V1_SUBHEAD = CSSSelector("div > section > h2")
_TAG_FILTER = XPath("self::*[@class='go-vh']")
_V1_UPPER = XPath("//article")
_V1_IMG_CREDIT = re.compile(r"(?i)\(bild:(?P<credits>.*)\)")

_V11_PARAGRAPH = XPath("//article//p[not(ancestor::div[@class='go-info-box__content'])]")
_V11_SUBHEAD = XPath("//article//h2[not(contains(@class, 'teaser'))]")
_V11_SUMMARY = XPath("//div[@class='go-article-header__intro']")


def _tag_filter(el) -> bool:
    return bool(_TAG_FILTER(el))


def _title(ctx: ParseContext) -> Optional[str]:
    if title := ctx.meta.get("title"):
        return title.replace(" - Golem.de", "")
    return None


def _common(paragraph_selector):
    return [
        Extractor("authors", authors_from_ld(), default=list),
        Extractor("publishing_date", date_from_ld()),
        Extractor("title", _title),
        Extractor("topics", topics_from_meta("news_keywords"), default=list),
        Extractor(
            "images",
            make_images(paragraph_selector, upper_boundary_selector=_V1_UPPER, author_selector=_V1_IMG_CREDIT),
            default=list,
        ),
        Extractor("free_access", free_access, default=False),
    ]


GOLEM = PublisherSpec(
    key="de.Golem",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2025, 8, 21),
            extractors=tuple(
                [Extractor(
                    "body",
                    make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD, tag_filter=_tag_filter),
                )] + _common(_V1_PARAGRAPH)
            ),
        ),
        VersionSpec(
            name="V1_1",
            extractors=tuple(
                [Extractor(
                    "body",
                    make_body(_V11_PARAGRAPH, summary=_V11_SUMMARY, subheadline=_V11_SUBHEAD, tag_filter=_tag_filter),
                )] + _common(_V11_PARAGRAPH)
            ),
        ),
    ),
)
