"""Mitteldeutsche Zeitung rule spec — semantics per reference
``src/fundus/publishers/de/mz.py`` (single V1).
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

_PARAGRAPH = CSSSelector("p.fp-paragraph")
_SUMMARY = CSSSelector("div.fp-article-heading > p")
_SUBHEAD = CSSSelector("div.fp-subheading > h2")
_CAPTION = XPath("./ancestor::div[@class='key-visual-image-wrapper']//span[@data-fp-flag='main-image-caption']")
_CREDIT = XPath("./ancestor::div[@class='key-visual-image-wrapper']//span[@data-fp-flag='main-image-source']")


MITTELDEUTSCHE_ZEITUNG = PublisherSpec(
    key="de.MitteldeutscheZeitung",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_meta("author"),
                date=date_from_ld(),
                title=title_from_meta("title"),
                topics=topics_from_meta(),
                images=make_images(_PARAGRAPH, caption_selector=_CAPTION, author_selector=_CREDIT),
            ),
        ),
    ),
)
