"""Le Monde rule spec — semantics per reference
``src/fundus/publishers/fr/le_monde.py`` (single V1; topics are the
raw ld keywords list).
"""

from __future__ import annotations

from ..kernel import CSSSelector, PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_meta,
    date_from_meta,
    make_body,
    make_images,
    std_extractors,
    title_from_ld,
    title_from_meta,
)

_PARAGRAPH = XPath("//p[contains(@class, 'article__paragraph')]")
_SUMMARY = XPath("//p[contains(@class, 'article__desc') or @id='js-summary-live']")
_SUBHEAD = XPath("//h2[@class = 'article__sub-title']")
_UPPER = CSSSelector("article")
_IMAGE = XPath("//figure/descendant::img[1]")
_CAPTION = XPath("./ancestor::figure//figcaption/text()")
_CREDIT = XPath("./ancestor::figure//figcaption/span")


LE_MONDE = PublisherSpec(
    key="fr.LeMonde",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_meta("og:article:author"),
                date=date_from_meta("og:article:published_time"),
                title=title_from_meta(),
                topics=title_from_ld("keywords"),
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
