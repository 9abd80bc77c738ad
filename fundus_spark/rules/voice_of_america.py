"""Voice of America rule spec — semantics per reference
``src/fundus/publishers/us/voice_of_america.py`` (single V1).
"""

from __future__ import annotations

from ..kernel import CSSSelector, PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_ld,
    date_from_ld,
    make_body,
    make_images,
    std_extractors,
    title_from_meta,
    topics_from_meta,
)

_PARAGRAPH = CSSSelector("#article-content > div > p")
_UPPER = XPath("//h1")
_LOWER = XPath("//div[@id='ymla-section']")


VOICE_OF_AMERICA = PublisherSpec(
    key="us.VoiceOfAmerica",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_meta(),
                topics=topics_from_meta(),
                images=make_images(_PARAGRAPH, upper_boundary_selector=_UPPER, lower_boundary_selector=_LOWER),
            ),
        ),
    ),
)
