"""Deutsche Welle rule spec — semantics per reference
``src/fundus/publishers/de/dw.py`` (V1 until 2023-06-12, V2 until
2024-01-18, V2_1 after).
"""

from __future__ import annotations

import datetime
import re
from typing import List, Optional

from ..kernel import (
    CSSSelector,
    Extractor,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    apply_substitution_pattern_over_list,
    generic_author_parsing,
    generic_date_parsing,
    generic_text_extraction,
    strip_nodes_to_text,
)
from ._common import date_from_ld, free_access, make_body, std_extractors, title_from_ld, topics_from_meta

_AUTHOR_REGEX = r"^([A-z]{2,3}\/)*([A-z]{2,3})\s\([A-z\s,\d]*\)$"

_V2_PARAGRAPH = XPath(
    f"//div[contains(@class, 'rich-text')] /p[text() and not(re:test(text(), '{_AUTHOR_REGEX}'))]"
)
_V2_SUMMARY = CSSSelector("header > p")
_V2_SUBHEAD = CSSSelector("div.rich-text > h2")
_V2_TOPIC = CSSSelector("aside[data-tracking-name=related-topics] > a")
_V21_TOPIC = CSSSelector("header > div.kicker > span")

_AUTHOR_SUBSTITUTION = re.compile(r"Deutsche Welle")

_V1_PARAGRAPH = CSSSelector("div.longText > p")
_V1_SUMMARY = CSSSelector("p.intro")
_V1_SUBHEAD = CSSSelector("div.longText > h2")
_V1_TITLE = CSSSelector(".col3 h1")
_V1_AUTHOR = XPath('normalize-space(//ul[@class="smallList"]/li[strong[contains(text(), "Auto")]]/text()[last()])')
_V1_DATE = XPath('normalize-space(//ul[@class="smallList"]/li[strong[contains(text(), "Datum")]]/text())')


def _authors_v2(ctx: ParseContext) -> List[str]:
    return apply_substitution_pattern_over_list(
        generic_author_parsing(ctx.ld.bf_search("author")), _AUTHOR_SUBSTITUTION
    )


def _topics_v2(ctx: ParseContext) -> List[str]:
    return [node.text_content().strip() for node in _V2_TOPIC(ctx.doc)]


def _topics_v21(ctx: ParseContext) -> List[str]:
    topic_nodes = _V21_TOPIC(ctx.doc)
    if (topic_string := strip_nodes_to_text(topic_nodes, join_on=", ")) is not None:
        return topic_string.split(", ")
    return []


def _authors_v1(ctx: ParseContext) -> List[str]:
    return generic_author_parsing(_V1_AUTHOR(ctx.doc))


def _publishing_date_v1(ctx: ParseContext) -> Optional[datetime.datetime]:
    return generic_date_parsing(_V1_DATE(ctx.doc))


def _title_v1(ctx: ParseContext) -> Optional[str]:
    return generic_text_extraction(ctx.doc, _V1_TITLE)


_V2_COMMON = [
    Extractor("authors", _authors_v2, default=list),
    Extractor("publishing_date", date_from_ld()),
    Extractor("title", title_from_ld()),
    Extractor("free_access", free_access, default=False),
]

DW = PublisherSpec(
    key="de.DW",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2023, 6, 12),
            extractors=std_extractors(
                body=make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD),
                authors=_authors_v1,
                date=_publishing_date_v1,
                title=_title_v1,
                topics=topics_from_meta(),
            ),
        ),
        VersionSpec(
            name="V2",
            valid_until=datetime.date(2024, 1, 18),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V2_PARAGRAPH, summary=_V2_SUMMARY, subheadline=_V2_SUBHEAD)),
                    Extractor("topics", _topics_v2, default=list),
                ]
                + _V2_COMMON
            ),
        ),
        VersionSpec(
            name="V2_1",
            extractors=tuple(
                [
                    Extractor("body", make_body(_V2_PARAGRAPH, summary=_V2_SUMMARY, subheadline=_V2_SUBHEAD)),
                    Extractor("topics", _topics_v21, default=list),
                ]
                + _V2_COMMON
            ),
        ),
    ),
)
