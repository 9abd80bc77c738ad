"""Der Standard rule spec — semantics per reference
``src/fundus/publishers/at/derstandard.py`` (single V1).
"""

from __future__ import annotations

import re

from ..kernel import CSSSelector, Extractor, PublisherSpec, VersionSpec, XPath
from ._common import authors_from_ld, date_from_ld, free_access, make_body, make_images, title_from_meta

_PARAGRAPH = CSSSelector("div.article-body > p")
_SUMMARY = CSSSelector("header > p.article-subtitle")
_SUBHEAD = CSSSelector("div.article-body > h3")
_CREDIT = XPath("./ancestor::figure//footer")
_SIZE = re.compile(r"/rs:fill:(?P<width>[0-9]+):")


DERSTANDARD = PublisherSpec(
    key="at.DerStandard",
    versions=(
        VersionSpec(
            name="V1",
            extractors=(
                Extractor("body", make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD)),
                Extractor("title", title_from_meta()),
                Extractor("authors", authors_from_ld(), default=list),
                Extractor("publishing_date", date_from_ld()),
                Extractor("images", make_images(_PARAGRAPH, author_selector=_CREDIT, size_pattern=_SIZE), default=list),
                Extractor("free_access", free_access, default=False),
            ),
        ),
    ),
)
