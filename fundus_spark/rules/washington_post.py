"""Washington Post rule spec — semantics per reference
``src/fundus/publishers/us/washington_post.py`` (single V1).
"""

from __future__ import annotations

from ..kernel import CSSSelector, Extractor, PublisherSpec, VersionSpec
from ._common import authors_from_ld, date_from_meta, free_access, make_body, title_from_meta

_PARAGRAPH = CSSSelector("div[data-qa='article-body'] > p, div[class='story relative'] > p")
_SUMMARY = CSSSelector("h2[data-qa='subheadline']")
_SUBHEAD = CSSSelector("div[data-qa='article-body'] > h3[data-qa='article-header']> div")


WASHINGTON_POST = PublisherSpec(
    key="us.WashingtonPost",
    versions=(
        VersionSpec(
            name="V1",
            extractors=(
                Extractor("body", make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD)),
                Extractor("title", title_from_meta()),
                Extractor("authors", authors_from_ld(), default=list),
                Extractor("publishing_date", date_from_meta("article:published_time")),
                Extractor("free_access", free_access, default=False),
            ),
        ),
    ),
)
