"""iNews rule spec — semantics per reference
``src/fundus/publishers/uk/i_news.py`` (V1 valid until 2025-01-01,
V1_1 after).
"""

from __future__ import annotations

import datetime
import re

from ..kernel import CSSSelector, Extractor, PublisherSpec, VersionSpec
from ._common import authors_from_ld, date_from_ld, free_access, make_body, make_images, title_from_ld, topics_from_ld

_V1_SUMMARY = CSSSelector("article > h2")
_V11_SUMMARY = CSSSelector("article p.inews__post-excerpt")
_PARAGRAPH = CSSSelector("article div.article-content p")
_IMAGE = CSSSelector("figure:has(> figcaption) img")
_CREDIT = re.compile(r"\((?P<credits>.*?)\)$")
_V1_UPPER = CSSSelector("div.inews__main")
_V11_UPPER = CSSSelector("div.article-wrapper")


_COMMON = [
    Extractor("publishing_date", date_from_ld()),
    Extractor("authors", authors_from_ld(), default=list),
    Extractor("title", title_from_ld()),
    Extractor("topics", topics_from_ld(), default=list),
    Extractor("free_access", free_access, default=False),
]

I_NEWS = PublisherSpec(
    key="uk.iNews",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2025, 1, 1),
            extractors=tuple(
                [
                    Extractor("body", make_body(_PARAGRAPH, summary=_V1_SUMMARY)),
                    Extractor(
                        "images",
                        make_images(
                            _PARAGRAPH,
                            upper_boundary_selector=_V1_UPPER,
                            image_selector=_IMAGE,
                            author_selector=_CREDIT,
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
                    Extractor("body", make_body(_PARAGRAPH, summary=_V11_SUMMARY)),
                    Extractor(
                        "images",
                        make_images(
                            _PARAGRAPH,
                            upper_boundary_selector=_V11_UPPER,
                            image_selector=_IMAGE,
                            author_selector=_CREDIT,
                        ),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
    ),
)
