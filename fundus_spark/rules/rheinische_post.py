"""Rheinische Post rule spec — semantics per reference
``src/fundus/publishers/de/rheinische_post.py`` (single V1).
"""

from __future__ import annotations

from ..kernel import CSSSelector, PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_meta,
    date_from_ld,
    make_body,
    make_images,
    std_extractors,
    title_from_meta,
    topics_from_meta,
)

_SUMMARY = CSSSelector("strong[data-cy='intro']")
_PARAGRAPH = XPath(
    "//div[@data-cy='article-content']//p[not(ancestor::figcaption)][not(contains(@class, '!text-transparent'))]"
)
_SUBHEAD = CSSSelector("div[data-cy='article-content'] h2")
_IMAGE = XPath("//figure[@id]//img[not(@alt='Platzhalter Drittanbieter-Inhalt')]")
_CAPTION = XPath("./ancestor::figure//figcaption/p")


RHEINISCHE_POST = PublisherSpec(
    key="de.RheinischePost",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_meta("author"),
                date=date_from_ld(),
                title=title_from_meta(),
                topics=topics_from_meta(),
                images=make_images(_PARAGRAPH, image_selector=_IMAGE, caption_selector=_CAPTION, relative_urls=True),
            ),
        ),
    ),
)
