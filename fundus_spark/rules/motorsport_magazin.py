"""MotorSport Magazin rule spec — semantics per reference
``src/fundus/publishers/de/motorsport_magazin.py`` (single V1).
"""

from __future__ import annotations

import re
from typing import List

from ..kernel import CSSSelector, ParseContext, PublisherSpec, VersionSpec, XPath, generic_topic_parsing
from ._common import authors_from_ld, date_from_ld, make_body, make_images, std_extractors, title_from_meta

_PARAGRAPH = CSSSelector("section.article-body > p")
_SUMMARY = CSSSelector("p.teaser")
_SUBHEAD = CSSSelector("section.article-body > h2")
_IMAGE = XPath("//*[not(self::figure)]/picture//img")
_CAPTION = XPath("(./ancestor::picture/following-sibling::figcaption)[1]")
_CREDIT = re.compile(r"(?i),?\s*foto:(?P<credits>.+)")


def _topics(ctx: ParseContext) -> List[str]:
    if ctx.meta.get("news_keywords") is not None:
        return generic_topic_parsing(ctx.meta.get("news_keywords"))
    return generic_topic_parsing(ctx.meta.get("keywords"))


MOTORSPORT_MAGAZIN = PublisherSpec(
    key="de.MotorSportMagazin",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_meta(),
                topics=_topics,
                images=make_images(
                    _PARAGRAPH,
                    image_selector=_IMAGE,
                    caption_selector=_CAPTION,
                    author_selector=_CREDIT,
                    relative_urls=True,
                ),
            ),
        ),
    ),
)
