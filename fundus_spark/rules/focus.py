"""Focus Online rule spec — semantics per reference
``src/fundus/publishers/de/focus.py`` (single V1; topics deprecated
2024-06-01, mined from an inline JS metadata snippet).
"""

from __future__ import annotations

import datetime
import re
from typing import List, Match, Optional

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath, generic_author_parsing
from ._common import date_from_ld, free_access, make_body, make_images, title_from_ld

_PARAGRAPH = CSSSelector("div.textBlock > p , div[data-qa-article-content-text] > p")
_SUMMARY = CSSSelector("div.leadIn > p, div.Article-Description ")
_SUBHEAD = CSSSelector("div.textBlock > h2, div[data-qa-article-content-text] > h2")
_SNIPPET = XPath('string(//script[@type="text/javascript"][contains(text(), "window.bf__bfa_metadata")])')

_AUTHOR_SUB = re.compile(r"Von FOCUS-online-(Redakteur|Autorin|Reporter|Redakteurin|Gastautor)\s")
_TOPIC_PATTERN = re.compile(r'"keywords":\[{(.*?)}\]')
_TOPIC_NAME_PATTERN = re.compile(r'"name":"(.*?)"', flags=re.MULTILINE)

_IMAGE = XPath("//div[@class='image clearfix']//img|//figure//img")
_CAPTION = XPath(
    "./ancestor::div[@class='image clearfix']//span[@class='caption']|"
    "./ancestor::figure//span[@class='Image-Caption']"
)
_CREDIT = XPath(
    "./ancestor::div[@class='image clearfix']//span[@class='source']|"
    "./ancestor::figure//span[@class='Image-Credit']"
)
_LOWER = XPath("//footer")


def _authors(ctx: ParseContext) -> List[str]:
    author_names = generic_author_parsing(ctx.ld.bf_search("author"))
    for i, name in enumerate(author_names):
        author_names[i] = re.sub(_AUTHOR_SUB, "", name)
    return author_names


def _topics(ctx: ParseContext) -> List[str]:
    snippet = _SNIPPET(ctx.doc)
    if not snippet:
        return []
    match: Optional[Match[str]] = re.search(_TOPIC_PATTERN, snippet)
    if not match:
        return []
    return re.findall(_TOPIC_NAME_PATTERN, match.group(1))


FOCUS = PublisherSpec(
    key="de.Focus",
    versions=(
        VersionSpec(
            name="V1",
            extractors=(
                Extractor("body", make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD)),
                Extractor("authors", _authors, default=list),
                Extractor("publishing_date", date_from_ld()),
                Extractor("title", title_from_ld()),
                Extractor("topics", _topics, default=list, deprecated=datetime.date(2024, 6, 1)),
                Extractor(
                    "images",
                    make_images(
                        _PARAGRAPH,
                        image_selector=_IMAGE,
                        caption_selector=_CAPTION,
                        author_selector=_CREDIT,
                        lower_boundary_selector=_LOWER,
                    ),
                    default=list,
                ),
                Extractor("free_access", free_access, default=False),
            ),
        ),
    ),
)
