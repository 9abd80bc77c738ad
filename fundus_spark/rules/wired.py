"""Wired rule spec — semantics per reference
``src/fundus/publishers/us/wired.py`` (single V1).
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

_SUMMARY = XPath("//div[contains(@class, 'ContentHeaderDek')]")
_PARAGRAPH = CSSSelector(".body__inner-container > p")
_SUBHEAD = CSSSelector(".body__inner-container h2")

_IMAGE = XPath("//figure//img|//div[contains(@class, 'ProductEmbedWrapper')]//img")
_CAPTION = XPath(
    "./ancestor::*[self::figure or (self::div and contains(@class, 'ProductEmbedWrapper'))]"
    "//*[contains(@class, 'caption__text') or contains(@class, 'ProductEmbedHed-')]"
)
_CREDIT = XPath(
    "./ancestor::*[self::figure or (self::div and contains(@class, 'ProductEmbedWrapper'))]"
    "//*[contains(@class, 'caption__credit') or contains(@class, 'CreditWrapper')]"
)


WIRED = PublisherSpec(
    key="us.Wired",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_ld(),
                topics=topics_from_meta(),
                images=make_images(
                    _PARAGRAPH, image_selector=_IMAGE, caption_selector=_CAPTION, author_selector=_CREDIT
                ),
            ),
        ),
    ),
)
