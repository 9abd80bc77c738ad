"""Le Figaro rule spec — semantics per reference
``src/fundus/publishers/fr/le_figaro.py`` (single V1).
"""

from __future__ import annotations

from ..kernel import CSSSelector, PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_ld,
    date_from_meta,
    make_body,
    make_images,
    std_extractors,
    title_from_meta,
    topics_from_meta,
)

_SUMMARY = CSSSelector("article > p.fig-standfirst")
_PARAGRAPH = CSSSelector("div.fig-content-body > p.fig-paragraph")
_SUBHEAD = CSSSelector("div.fig-content-body > h2")
_UPPER = CSSSelector("article")
_IMAGE = XPath("//figure/descendant::img[1]")
_CAPTION = XPath("./ancestor::figure//figcaption/text()")
_CREDIT = XPath("./ancestor::figure//figcaption/span")


LE_FIGARO = PublisherSpec(
    key="fr.LeFigaro",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_meta("article:published_time"),
                title=title_from_meta(),
                topics=topics_from_meta(),
                images=make_images(
                    _PARAGRAPH,
                    upper_boundary_selector=_UPPER,
                    image_selector=_IMAGE,
                    caption_selector=_CAPTION,
                    author_selector=_CREDIT,
                ),
            ),
        ),
    ),
)
