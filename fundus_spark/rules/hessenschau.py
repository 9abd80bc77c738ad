"""Hessenschau rule spec — semantics per reference
``src/fundus/publishers/de/hessenschau.py`` (single V1).
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

_SUMMARY = XPath(
    "//p[(@class='copytext__text text__copytext'"
    " or contains(@class, 'copytext__paragraph'))"
    " and position()=1] /strong"
)
_PARAGRAPH = XPath(
    "//p[(@class='copytext__text text__copytext' or contains(@class, 'copytext__paragraph'))"
    " and not(child::strong and position()=1)] | "
    "//ul[contains(@class, 'copytext__paragraph')]/li"
)
_SUBHEAD = CSSSelector("h2[class*=head]")
_IMAGE = XPath("//figure[not(@class='ar-1-1')]//*[not(self::noscript)]/img")
_CAPTION = XPath("./ancestor::figure//span[@class='pr-3']")
_CREDIT = XPath("./ancestor::figure//span[@class='text-gray-scorpion dark:text-text-dark']")


HESSENSCHAU = PublisherSpec(
    key="de.Hessenschau",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_meta("article:published_time"),
                title=title_from_meta(),
                topics=topics_from_meta("news_keywords"),
                images=make_images(
                    _PARAGRAPH, image_selector=_IMAGE, caption_selector=_CAPTION, author_selector=_CREDIT
                ),
            ),
        ),
    ),
)
