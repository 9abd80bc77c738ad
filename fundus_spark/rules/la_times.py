"""LA Times rule spec — semantics per reference
``src/fundus/publishers/us/la_times.py`` (single V1).
"""

from __future__ import annotations

from ..kernel import CSSSelector, Extractor, PublisherSpec, VersionSpec, XPath
from ._common import authors_from_ld, date_from_ld, free_access, make_body, make_images, title_from_meta

_SUBHEAD = CSSSelector(
    "div[data-element*=story-body] h3[class*=story-title], div[data-element*=story-body] h2[class=subhead]"
)
_PARAGRAPH = CSSSelector("div[data-element*=story-body] > p")
_UPPER = XPath("//div[@class='page-lead']|//h1[@class='headline']")
_CAPTION = XPath("./ancestor::figure//div[@class='figure-caption']")
_CREDIT = XPath("./ancestor::figure//div[@class='figure-credit']")


LA_TIMES = PublisherSpec(
    key="us.LATimes",
    versions=(
        VersionSpec(
            name="V1",
            extractors=(
                Extractor("body", make_body(_PARAGRAPH, subheadline=_SUBHEAD)),
                Extractor("publishing_date", date_from_ld()),
                Extractor("authors", authors_from_ld(), default=list),
                Extractor("title", title_from_meta()),
                Extractor(
                    "images",
                    make_images(
                        _PARAGRAPH, upper_boundary_selector=_UPPER, caption_selector=_CAPTION, author_selector=_CREDIT
                    ),
                    default=list,
                ),
                Extractor("free_access", free_access, default=False),
            ),
        ),
    ),
)
