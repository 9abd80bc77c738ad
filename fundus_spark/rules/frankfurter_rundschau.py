"""Frankfurter Rundschau rule spec — semantics per reference
``src/fundus/publishers/de/frankfurter_rundschau.py`` (single V1).
"""

from __future__ import annotations

import re

from ..kernel import CSSSelector, Extractor, PublisherSpec, VersionSpec, XPath
from ._common import authors_from_ld, date_from_ld, free_access, make_body, make_images, title_from_meta

_PARAGRAPH = XPath(
    "//p[@class='id-StoryElement-paragraph'] | "
    "//p[contains(@class,'id-Article-content-item-paragraph') and text()] |"
    "//div[@class='id-Article-body']//ul/li[not(@class='id-AuthorList-item ')]"
)
_SUMMARY = CSSSelector(
    "p.id-StoryElement-leadText, p[class='id-Article-content-item id-Article-content-item-summary']"
)
_SUBHEAD = CSSSelector("h2.id-StoryElement-crosshead, span.id-Article-content-item-headline-text")
_UPPER = CSSSelector("article")
_CREDIT = re.compile(r"©(?P<credits>.+)")


FRANKFURTER_RUNDSCHAU = PublisherSpec(
    key="de.FrankfurterRundschau",
    versions=(
        VersionSpec(
            name="V1",
            extractors=(
                Extractor("body", make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD)),
                Extractor("authors", authors_from_ld(), default=list),
                Extractor("publishing_date", date_from_ld()),
                Extractor("title", title_from_meta()),
                Extractor(
                    "images",
                    make_images(_PARAGRAPH, upper_boundary_selector=_UPPER, author_selector=_CREDIT),
                    default=list,
                ),
                Extractor("free_access", free_access, default=False),
            ),
        ),
    ),
)
