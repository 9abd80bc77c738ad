"""Washington Times rule spec — semantics per reference
``src/fundus/publishers/us/washington_times.py`` (single V1).
"""

from __future__ import annotations

from ..kernel import CSSSelector, Extractor, PublisherSpec, VersionSpec
from ._common import authors_from_ld, date_from_ld, free_access, make_body, title_from_ld

_PARAGRAPH = CSSSelector(".bigtext > p")


WASHINGTON_TIMES = PublisherSpec(
    key="us.WashingtonTimes",
    versions=(
        VersionSpec(
            name="V1",
            extractors=(
                Extractor("body", make_body(_PARAGRAPH)),
                Extractor("authors", authors_from_ld(), default=list),
                Extractor("publishing_date", date_from_ld()),
                Extractor("title", title_from_ld()),
                Extractor("free_access", free_access, default=False),
            ),
        ),
    ),
)
