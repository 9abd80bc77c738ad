"""Merkur rule spec — semantics per reference
``src/fundus/publishers/de/merkur.py`` (single V1).
"""

from __future__ import annotations

import re

from ..kernel import CSSSelector, Extractor, PublisherSpec, VersionSpec, XPath
from ._common import authors_from_ld, date_from_ld, free_access, make_body, make_images, title_from_meta

_PARAGRAPH = CSSSelector("p.id-StoryElement-paragraph, article > ul > li")
_SUMMARY = XPath("//p[@class='id-StoryElement-leadText'][1]")
_SUBHEAD = CSSSelector("h2.id-StoryElement-crosshead")
_UPPER = XPath("//article")
_IMAGE = XPath("//figure[@class='id-StoryElement-image']//img")
_CREDIT = re.compile(r"©(?P<credits>.+)")


MERKUR = PublisherSpec(
    key="de.Merkur",
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
                    make_images(
                        _PARAGRAPH, upper_boundary_selector=_UPPER, image_selector=_IMAGE, author_selector=_CREDIT
                    ),
                    default=list,
                ),
                Extractor("free_access", free_access, default=False),
            ),
        ),
    ),
)
