"""Sportschau rule spec — semantics per reference
``src/fundus/publishers/de/sportschau.py`` (single V1).
"""

from __future__ import annotations

import re

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

_SUMMARY = CSSSelector(
    "p[class='textabsatz columns twelve  m-ten  m-offset-one l-eight l-offset-two'] > strong"
)
_PARAGRAPH = CSSSelector("article >p.textabsatz:not(p.textabsatz:nth-of-type(1))")
_SUBHEAD = CSSSelector("article >h2")
_IMAGE = XPath("//article//picture[not(contains(@class,'--list'))]//img")
_LOWER = XPath("//div[contains(@class, 'back-to-top')]")
_ALT = XPath("./@title")
_CREDIT = re.compile(r"\|(?P<credits>.+)")
_CAPTION = XPath("./ancestor::div[contains(@class, 'absatzbild ')]/div[@class='absatzbild__info']")
_SIZE = re.compile(r"/[\dx]+-(?P<width>[0-9]+)/")


SPORTSCHAU = PublisherSpec(
    key="de.SportSchau",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_meta("author"),
                date=date_from_meta("date"),
                title=title_from_meta(),
                topics=topics_from_meta(),
                images=make_images(
                    _PARAGRAPH,
                    image_selector=_IMAGE,
                    lower_boundary_selector=_LOWER,
                    alt_selector=_ALT,
                    author_selector=_CREDIT,
                    caption_selector=_CAPTION,
                    size_pattern=_SIZE,
                ),
            ),
        ),
    ),
)
