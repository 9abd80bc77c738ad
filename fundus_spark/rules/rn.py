"""Ruhr Nachrichten rule spec — semantics per reference
``src/fundus/publishers/de/rn.py`` (single V1).
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
    topics_from_ld,
)

_SUMMARY = CSSSelector("div.article__content > p.article__teaser-text")
_PARAGRAPH = CSSSelector("div.article__content > p:not([class])")
_SUBHEAD = CSSSelector("div.article__content > h2")
_IMAGE = XPath("//figure[not(@class='teaser__thumbnail')]//img")
_CAPTION = XPath("./ancestor::figure//figcaption/text()")
_CREDIT = XPath("./ancestor::figure//figcaption/span")


RUHR_NACHRICHTEN = PublisherSpec(
    key="de.RuhrNachrichten",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_meta("author"),
                date=date_from_ld(),
                title=title_from_meta(),
                topics=topics_from_ld(),
                images=make_images(
                    _PARAGRAPH, image_selector=_IMAGE, caption_selector=_CAPTION, author_selector=_CREDIT
                ),
            ),
        ),
    ),
)
