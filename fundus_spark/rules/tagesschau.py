"""Tagesschau rule spec — semantics per reference
``src/fundus/publishers/de/tagesschau.py`` (single V1).
"""

from __future__ import annotations

import re
from typing import List

from ..kernel import CSSSelector, ParseContext, PublisherSpec, VersionSpec, XPath, generic_author_parsing
from ._common import date_from_ld, make_body, make_images, std_extractors, title_from_meta

_PARAGRAPH = XPath("//article/p[position() > 1]")
_SUMMARY = XPath("//article/p[1]")
_SUBHEAD = XPath("//article/h2")
_AUTHOR = XPath('string(//div[contains(@class, "authorline__author")])')
_TOPIC = CSSSelector("div.meldungsfooter .taglist a")
_IMAGE = XPath("//*[not(self::div and @class='teaser-absatz__image')]/div[@class='ts-picture__wrapper']//img")
_ALT = XPath("./@title")
_CREDIT = re.compile(r"\|(?P<credits>.+)")
_CAPTION = XPath("./ancestor::div[contains(@class, 'absatzbild ')]")


def _authors(ctx: ParseContext) -> List[str]:
    if raw_author_string := _AUTHOR(ctx.doc):
        cleaned = re.sub(r"^Von |, ARD[^\s,]*", "", raw_author_string)
        return generic_author_parsing(cleaned)
    return []


def _topics(ctx: ParseContext) -> List[str]:
    return [node.text_content() for node in _TOPIC(ctx.doc)]


TAGESSCHAU = PublisherSpec(
    key="de.Tagesschau",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=_authors,
                date=date_from_ld(),
                title=title_from_meta(),
                topics=_topics,
                images=make_images(
                    _PARAGRAPH,
                    image_selector=_IMAGE,
                    alt_selector=_ALT,
                    author_selector=_CREDIT,
                    caption_selector=_CAPTION,
                    lower_boundary_selector=_TOPIC,
                ),
            ),
        ),
    ),
)
