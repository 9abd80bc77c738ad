"""Tagesspiegel rule spec — semantics per reference
``src/fundus/publishers/de/tagesspiegel.py`` (single V1).
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
    topics_from_ld,
)

_SUMMARY = CSSSelector("div.Hay.Haz p.Ha6")
_PARAGRAPH = CSSSelector("div[id=story-elements] > p")
_SUBHEAD = CSSSelector("div[id=story-elements] > h3")
_CREDIT = XPath("./ancestor::figure//p[contains(@class, 'tspQcl')]")


TAGESSPIEGEL = PublisherSpec(
    key="de.Tagesspiegel",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_meta(),
                topics=topics_from_ld(),
                images=make_images(_PARAGRAPH, relative_urls=True, author_selector=_CREDIT),
            ),
        ),
    ),
)
