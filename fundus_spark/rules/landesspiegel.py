"""Landesspiegel rule spec — reference
``src/fundus/publishers/li/landesspiegel.py`` (V1 until 2025-09-09).
"""

from __future__ import annotations

import datetime
import re
from typing import Optional

from ..kernel import Extractor, ParseContext, PublisherSpec, VersionSpec, XPath, generic_date_parsing
from ._common import (
    authors_from_ld,
    authors_from_meta,
    date_from_ld,
    free_access,
    make_body,
    make_images,
    title_from_ld,
)

_SUMMARY = XPath("//div[contains(@class, 'entry-content')]/p[not(text()) and strong]")
_PARAGRAPH = XPath("//div[contains(@class, 'entry-content')]/p[text()]|//blockquote")
_SUBHEAD = XPath("//div[contains(@class, 'entry-content')]/h2")

_CREDIT = re.compile(r"(?i)\|\s*(Foto|Bild(quelle)?):\s*(?P<credits>.*)$")

_V1_IMAGES = make_images(
    _PARAGRAPH,
    upper_boundary_selector=XPath("//h1"),
    image_selector=XPath("//div[@class='post-image']//img"),
    caption_selector=XPath("./ancestor::div[@class='post-image']//div[contains(@class,'caption')]"),
    author_selector=_CREDIT,
)

_V11_DATE = XPath("string(//header //time /@datetime)")
_V11_TITLE_BLOAT = re.compile(r"\s*-\s*Landesspiegel$", flags=re.IGNORECASE)


def _date_v11(ctx: ParseContext) -> Optional[datetime.datetime]:
    if pub_date := _V11_DATE(ctx.doc):
        return generic_date_parsing(pub_date)
    return None


def _title_v11(ctx: ParseContext) -> Optional[str]:
    if title_string := ctx.meta.get("og:title"):
        return re.sub(_V11_TITLE_BLOAT, "", title_string)
    return None


_V11_IMAGES = make_images(
    _PARAGRAPH,
    upper_boundary_selector=XPath("//h1"),
    image_selector=XPath("//div[@class='post-thumbnail']//img"),
    caption_selector=XPath("./ancestor::div[@class='post-thumbnail']//p[contains(@class,'caption')]"),
    author_selector=_CREDIT,
)


def _version(name, valid_until, authors, date, title, images):
    return VersionSpec(
        name=name,
        valid_until=valid_until or datetime.date.max,
        extractors=(
            Extractor("body", make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD)),
            Extractor("authors", authors, default=list),
            Extractor("publishing_date", date),
            Extractor("title", title),
            Extractor("images", images, default=list),
            Extractor("free_access", free_access, default=False),
        ),
    )


LANDESSPIEGEL = PublisherSpec(
    key="li.Landesspiegel",
    versions=(
        _version("V1", datetime.date(2025, 9, 9), authors_from_ld(), date_from_ld(), title_from_ld("headline"), _V1_IMAGES),
        _version("V1_1", None, authors_from_meta("twitter:data1"), _date_v11, _title_v11, _V11_IMAGES),
    ),
)
