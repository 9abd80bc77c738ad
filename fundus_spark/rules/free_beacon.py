"""Free Beacon rule spec — semantics per reference
``src/fundus/publishers/us/free_beacon.py`` (single V1).
"""

from __future__ import annotations

import re
from typing import List, Optional

from ..kernel import CSSSelector, ParseContext, PublisherSpec, VersionSpec
from ._common import authors_from_meta, date_from_ld, make_body, make_images, std_extractors, title_from_ld

_SUMMARY = CSSSelector("h2.article-excerpt")
_PARAGRAPH = CSSSelector(".article-content > p")
_CREDIT = re.compile(r"\((?P<credits>.+)\)$")


def _topics(ctx: ParseContext) -> List[str]:
    topics: Optional[List[str]] = ctx.ld.bf_search("keywords")
    return topics if topics else []


FREE_BEACON = PublisherSpec(
    key="us.FreeBeacon",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY),
                authors=authors_from_meta("author"),
                date=date_from_ld(),
                title=title_from_ld(),
                topics=_topics,
                images=make_images(_PARAGRAPH, author_selector=_CREDIT),
            ),
        ),
    ),
)
