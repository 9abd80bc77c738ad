"""t-online rule spec — semantics per reference
``src/fundus/publishers/de/t_online.py`` (V1 valid until 2026-02-19,
V1_1 after).
"""

from __future__ import annotations

import datetime
import re
from typing import List, Optional

from ..kernel import (
    Extractor,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    generic_topic_parsing,
    strip_nodes_to_text,
)
from ._common import authors_from_ld, date_from_ld, free_access, make_body, make_images, title_from_ld

_V1_PARAGRAPH = XPath("//div[@data-testid='ArticleBody.StreamLayout']//p[@class='text-18 leading-17']")
_V1_SUMMARY = XPath("//div[@data-testid='ArticleBody.StreamLayout']//p[@class='font-bold text-18 leading-17']")
_SUBHEAD = XPath("//div[@data-testid='ArticleBody.StreamLayout']//h3")
_IMAGE = XPath("//figure/*[self::div or self::a]/img")
_CREDIT = re.compile(r"(?i)\(quelle:\s*(?P<credits>.+)\)$")

_V11_PARAGRAPH = XPath(
    "//div[@data-testid='ArticleBody.StreamLayout']"
    "//p[contains(@class,'text-18 leading-17') and not(contains(@class,'font-bold'))]"
)
_V11_SUMMARY = XPath(
    "//div[@data-testid='ArticleBody.StreamLayout']"
    "//p[contains(@class,'text-18 leading-17') and contains(@class,'font-bold')]"
)
_V11_HEADLINE = XPath("//div[@data-external-article-headline]")


def _title_v11(ctx: ParseContext) -> Optional[str]:
    return strip_nodes_to_text(_V11_HEADLINE(ctx.doc))


def _topics(ctx: ParseContext) -> List[str]:
    return [t for t in generic_topic_parsing(ctx.meta.get("keywords")) if not t.isdigit()]


_COMMON = [
    Extractor("publishing_date", date_from_ld()),
    Extractor("authors", authors_from_ld(), default=list),
    Extractor("topics", _topics, default=list),
    Extractor("free_access", free_access, default=False),
]

T_ONLINE = PublisherSpec(
    key="de.TOnline",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2026, 2, 19),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_SUBHEAD)),
                    Extractor("title", title_from_ld()),
                    Extractor(
                        "images",
                        make_images(_V1_PARAGRAPH, image_selector=_IMAGE, author_selector=_CREDIT, relative_urls=True),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
        VersionSpec(
            name="V1_1",
            extractors=tuple(
                [
                    Extractor("body", make_body(_V11_PARAGRAPH, summary=_V11_SUMMARY, subheadline=_SUBHEAD)),
                    Extractor("title", _title_v11),
                    Extractor(
                        "images",
                        make_images(_V11_PARAGRAPH, image_selector=_IMAGE, author_selector=_CREDIT, relative_urls=True),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
    ),
)
