"""Spiegel Online rule spec — semantics per reference
``src/fundus/publishers/de/spon.py`` (single V1).
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

_PARAGRAPH = CSSSelector("main .word-wrap > p")
_SUMMARY = CSSSelector("header .leading-loose")
_SUBHEAD = CSSSelector("main .word-wrap > h3")
_LOWER = XPath("//footer")
_IMAGE = XPath("//figure//picture//img")
_CAPTION = XPath("./ancestor::figure/following-sibling::figcaption[1]//p|./ancestor::figure/figcaption[1]//p")
_CREDIT = XPath(
    "./ancestor::figure/following-sibling::figcaption[1]/span|"
    "./ancestor::figure/figcaption[1]/*[(self::span or self::div) and contains(@class,'Credit')]"
)


SPON = PublisherSpec(
    key="de.SpiegelOnline",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_meta(),
                topics=topics_from_meta("news_keywords"),
                images=make_images(
                    _PARAGRAPH,
                    lower_boundary_selector=_LOWER,
                    image_selector=_IMAGE,
                    caption_selector=_CAPTION,
                    author_selector=_CREDIT,
                ),
            ),
        ),
    ),
)
