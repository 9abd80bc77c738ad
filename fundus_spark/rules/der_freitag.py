"""der Freitag rule spec — semantics per reference
``src/fundus/publishers/de/der_freitag.py`` (single V1).
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
    title_from_meta,
)

_SUMMARY = CSSSelector("header > p.bc-article-intro__text")
_PARAGRAPH = CSSSelector("div.bo-article-text > p")
_SUBHEAD = CSSSelector("div.bo-article-text > h2")
_UPPER = CSSSelector("header.bc-article-intro")
_LOWER = CSSSelector("span.freitag-article-end")
_IMAGE = CSSSelector("figure img,div[role='figure'] img")
_CAPTION = XPath("./ancestor::figure//figcaption//span[@class='bo-image__caption__desc']")
_CREDIT = XPath("./ancestor::figure//figcaption//span[@class='bo-image__caption__credit']")


DER_FREITAG = PublisherSpec(
    key="de.DerFreitag",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_meta(),
                topics=title_from_ld("keywords"),
                images=make_images(
                    _PARAGRAPH,
                    upper_boundary_selector=_UPPER,
                    lower_boundary_selector=_LOWER,
                    image_selector=_IMAGE,
                    caption_selector=_CAPTION,
                    author_selector=_CREDIT,
                ),
            ),
        ),
    ),
)
