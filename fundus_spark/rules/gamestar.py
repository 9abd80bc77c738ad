"""Gamestar rule spec — semantics per reference
``src/fundus/publishers/de/gamestar.py`` (single V1).
"""

from __future__ import annotations

import re

from ..kernel import CSSSelector, Extractor, PublisherSpec, VersionSpec, XPath
from ._common import authors_from_ld, date_from_ld, free_access, make_body, make_images, title_from_meta

_SUMMARY = CSSSelector("p.intro")
_PARAGRAPH = CSSSelector("div.article-content > p:not([class])")
_SUBHEAD = CSSSelector("div.article-content > h2")
_UPPER = XPath("//div[@class='main waypoint']")
_IMAGE = XPath("//picture/img")
_CAPTION = XPath("./ancestor::p[@class='caption ']/span[@class='bu m-t-1']")
_LOWER = XPath("//div[@id='comments']")
_CREDIT = re.compile("(?i)Bildquelle:(?P<credits>.*)")


GAMESTAR = PublisherSpec(
    key="de.Gamestar",
    versions=(
        VersionSpec(
            name="V1",
            extractors=(
                Extractor("title", title_from_meta()),
                Extractor("body", make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD)),
                Extractor("authors", authors_from_ld(), default=list),
                Extractor("publishing_date", date_from_ld()),
                Extractor(
                    "images",
                    make_images(
                        _PARAGRAPH,
                        upper_boundary_selector=_UPPER,
                        image_selector=_IMAGE,
                        caption_selector=_CAPTION,
                        lower_boundary_selector=_LOWER,
                        author_selector=_CREDIT,
                        relative_urls=True,
                    ),
                    default=list,
                ),
                Extractor("free_access", free_access, default=False),
            ),
        ),
    ),
)
