"""LTO rule spec — semantics per reference
``src/fundus/publishers/de/lto.py`` (single V1).
"""

from __future__ import annotations

import re
from typing import List

from ..kernel import (
    CSSSelector,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    apply_substitution_pattern_over_list,
    generic_author_parsing,
    strip_nodes_to_text,
)
from ._common import date_from_meta, make_body, make_images, std_extractors, title_from_meta, topics_from_nodes

_PARAGRAPH = XPath("//div[@class='article-text-wrapper']/p[text() or child::span[@class='block-align-center']]")
_SUMMARY = CSSSelector("div.reader__intro")
_SUBHEAD = CSSSelector("div.article-text-wrapper > h2, div.article-text-wrapper > h3")
_TOPIC = XPath("//ul[@id='articleTags']//li")
_AUTHOR = XPath("//p[@class='reader__meta-info'][1]")
_CREDIT = re.compile(r"(?i)foto:\s*(?P<credits>.+)$")
_UPPER = XPath("//h1")
_AUTHOR_SUB = re.compile("^Gastbeitrag von |^von ")


def _authors(ctx: ParseContext) -> List[str]:
    return apply_substitution_pattern_over_list(
        generic_author_parsing(strip_nodes_to_text(_AUTHOR(ctx.doc))), _AUTHOR_SUB, ""
    )


LTO = PublisherSpec(
    key="de.LTO",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=_authors,
                date=date_from_meta("date"),
                title=title_from_meta(),
                topics=topics_from_nodes(_TOPIC),
                images=make_images(
                    _PARAGRAPH, author_selector=_CREDIT, upper_boundary_selector=_UPPER, relative_urls=True
                ),
            ),
        ),
    ),
)
