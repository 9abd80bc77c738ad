"""Vogue DE rule spec — semantics per reference
``src/fundus/publishers/de/vogue_de.py`` (single V1).
"""

from __future__ import annotations

from ..kernel import CSSSelector, PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_meta,
    date_from_meta,
    make_body,
    make_images,
    std_extractors,
    title_from_meta,
    topics_from_meta,
)

_PARAGRAPH = XPath("//div[@class='body__inner-container'] /p[text()]")
_SUBHEAD = CSSSelector("div.body__inner-container > h2")
_SUMMARY = XPath("//div[contains(@class, 'ContentHeaderDek')]")
_IMAGE = XPath("//article//*[not(self::a)]/picture[not(contains(@class, 'summary-item__image'))]//img")
_CAPTION = XPath("./ancestor::figure//span[contains(@class, 'caption__text')]")
_CREDIT = XPath("./ancestor::figure//span[contains(@class, 'caption__credit')]")


VOGUE_DE = PublisherSpec(
    key="de.VogueDE",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_meta("article:author"),
                date=date_from_meta("article:published_time"),
                title=title_from_meta(),
                topics=topics_from_meta(),
                images=make_images(
                    _PARAGRAPH, image_selector=_IMAGE, caption_selector=_CAPTION, author_selector=_CREDIT
                ),
            ),
        ),
    ),
)
