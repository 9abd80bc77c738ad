"""The Guardian rule spec — semantics per reference
``src/fundus/publishers/uk/the_guardian.py`` (single V1).
"""

from __future__ import annotations

from ..kernel import CSSSelector, PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_ld,
    date_from_ld,
    make_body,
    make_images,
    std_extractors,
    title_from_ld,
    topics_from_meta,
)

_SUMMARY = CSSSelector("div[data-gu-name='standfirst'] p")
_PARAGRAPH = CSSSelector(".article-body-viewer-selector > p")
_CAPTION = XPath("(./ancestor::figure//figcaption)[1]/span[2]")
_CREDIT = XPath("(./ancestor::figure//figcaption)[1]/text()")


THE_GUARDIAN = PublisherSpec(
    key="uk.TheGuardian",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_ld(),
                topics=topics_from_meta("article:tag"),
                images=make_images(_PARAGRAPH, caption_selector=_CAPTION, author_selector=_CREDIT),
            ),
        ),
    ),
)
