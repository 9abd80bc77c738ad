"""TechRadar rule spec — semantics per reference
``src/fundus/publishers/uk/techradar.py`` (single V1; bloat
paragraphs filtered by re:test).
"""

from __future__ import annotations

import re
from typing import List

from ..kernel import (
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    generic_author_parsing,
    generic_nodes_to_text,
    generic_topic_parsing,
)
from ._common import date_from_ld, make_body, make_images, std_extractors, title_from_ld

_SUMMARY = XPath("//article//header//*[contains(@class, 'strapline')]")
_SUBHEAD = XPath(
    "//article//div[contains(concat(' ', normalize-space(@class), ' '), ' text-copy ')]"
    "//*[self::h2 or self::h3][normalize-space()]"
)
_BLOAT = (
    r"^When you purchase through links|"
    r"^Follow TechRadar on Google News|"
    r"^Get daily insight|"
    r"^You might also like|"
    r"^What about you? Share your"
)
_PARAGRAPH = XPath(
    "//article//div[contains(concat(' ', normalize-space(@class), ' '), ' text-copy ')]"
    "//*[self::p or self::li]"
    "[normalize-space() and not(contains(@class, 'vanilla-image-block')) "
    "and not(self::li[contains(@class, 'list-none')]) "
    f"and not(re:test(normalize-space(string()), '{_BLOAT}'))"
    "and not(contains(@class,'newsletter-form__strapline'))"
    "and not(ancestor::*[contains(@class,'person')])]"
)
_TOPICS = XPath("//div[@class='tc23-post-relevant-terms__terms']/a")
_UPPER = XPath("//article")
_IMAGE = XPath("//article//figure//img")
_CAPTION = XPath("./ancestor::figure//figcaption")
_CREDIT = re.compile(r"(?i)\(?image credit[s]?: (?P<credits>.*?)[/)]?$")


def _authors(ctx: ParseContext) -> List[str]:
    return generic_author_parsing(ctx.ld.bf_search("author") or ctx.meta.get("mrf:authors"))


def _topics(ctx: ParseContext) -> List[str]:
    return generic_topic_parsing(generic_nodes_to_text(_TOPICS(ctx.doc))) or generic_topic_parsing(
        ctx.meta.get("article:tag")
    )


TECHRADAR = PublisherSpec(
    key="uk.TechRadar",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=_authors,
                date=date_from_ld(),
                title=title_from_ld(),
                topics=_topics,
                images=make_images(
                    _PARAGRAPH,
                    upper_boundary_selector=_UPPER,
                    image_selector=_IMAGE,
                    caption_selector=_CAPTION,
                    author_selector=_CREDIT,
                ),
            ),
        ),
    ),
)
