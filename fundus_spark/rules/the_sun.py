"""The Sun rule spec — semantics per reference
``src/fundus/publishers/uk/the_sun.py`` (single V1).
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
_PARAGRAPH = XPath("//div[@class='article__content']/p[not(not(text()) and a[strong])]")
_SUBHEAD = CSSSelector("div.article__content > h2.wp-block-heading")
_CAPTION = XPath("./ancestor::figure//figcaption/span[1]")


THE_SUN = PublisherSpec(
    key="uk.TheSun",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_ld(),
                topics=topics_from_meta("article:tag"),
                images=make_images(_PARAGRAPH, caption_selector=_CAPTION),
            ),
        ),
    ),
)
