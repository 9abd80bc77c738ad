"""Lesotho Times rule spec — reference
``src/fundus/publishers/ls/lesotho_times.py`` (V1 until 2025-09-20;
byline parsed from short leading body paragraphs; no topics).
"""

from __future__ import annotations

import datetime
from typing import List, Optional

from ..kernel import (
    Extractor,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    generic_author_parsing,
    generic_nodes_to_text,
)
from ._common import date_from_ld, free_access, make_body, make_images

_V1_PARAGRAPH = XPath("//div[@class='entry-content']/p[text() or span]")
_V1_SUBHEAD = XPath("//div[@class='entry-content']/p[not(text() or em) and strong[not(em)] and position()>4]")
_V1_SUMMARY = XPath("//div[@class='entry-content']/p[not(text()) and (strong[em] or em)]")
_V1_AUTHOR = XPath("//div[@class='entry-content']/p[not(text() or em) and strong[not(em)] and position()<5]")

_V11_PARAGRAPH = XPath(
    "//div[contains(@class,'entry-content')]/p["
    "(text() or span) and "
    "not(i or "
    "(string-length(normalize-space(.)) - string-length(translate(normalize-space(.), ' ', ''))+ 1 <=3"
    " and position()<5"
    "))]"
)
_V11_SUBHEAD = XPath(
    "//div[contains(@class,'entry-content')]/p[i or (not(text() or em) and strong[not(em)] and position()>4)]"
)
_V11_SUMMARY = XPath("//div[contains(@class,'entry-content')]/p[not(text()) and (strong[em] or em)]")
_V11_AUTHOR = XPath(
    "//div[contains(@class,'entry-content')]/p["
    "string-length(normalize-space(.)) - string-length(translate(normalize-space(.), ' ', '')) + 1 <=3"
    " and position()<5"
    "]"
)


def _authors(selector):
    def fn(ctx: ParseContext) -> List[str]:
        return generic_author_parsing(generic_nodes_to_text(selector(ctx.doc)), split_on=["/"])

    return fn


def _title(ctx: ParseContext) -> Optional[str]:
    if title := ctx.meta.get("og:title"):
        return title.replace("- Lesotho Times", "").strip()
    return None


_V1_IMAGES = make_images(
    _V1_PARAGRAPH,
    image_selector=XPath("//div[@class='feature-postimg']/img"),
    upper_boundary_selector=XPath("//header"),
)

_V11_IMAGES = make_images(
    _V11_PARAGRAPH,
    image_selector=XPath("//div[@class='feature-postimg' or contains(@class, 'post-image')]/img"),
    caption_selector=XPath("./ancestor::div[contains(@class,'media')]//figcaption"),
    upper_boundary_selector=XPath("//header"),
)

LESOTHO_TIMES = PublisherSpec(
    key="ls.LesothoTimes",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2025, 9, 20),
            extractors=(
                Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                Extractor("publishing_date", date_from_ld()),
                Extractor("authors", _authors(_V1_AUTHOR), default=list),
                Extractor("title", _title),
                Extractor("images", _V1_IMAGES, default=list),
                Extractor("free_access", free_access, default=False),
            ),
        ),
        VersionSpec(
            name="V1_1",
            extractors=(
                Extractor("body", make_body(_V11_PARAGRAPH, summary=_V11_SUMMARY, subheadline=_V11_SUBHEAD)),
                Extractor("publishing_date", date_from_ld()),
                Extractor("authors", _authors(_V11_AUTHOR), default=list),
                Extractor("title", _title),
                Extractor("images", _V11_IMAGES, default=list),
                Extractor("free_access", free_access, default=False),
            ),
        ),
    ),
)
