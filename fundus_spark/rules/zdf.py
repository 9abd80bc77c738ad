"""ZDF rule spec — semantics per reference
``src/fundus/publishers/de/zdf.py`` (V1 valid until 2025-08-01,
V1_1 after).
"""

from __future__ import annotations

import datetime
from typing import List

from ..kernel import (
    CSSSelector,
    Extractor,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    generic_topic_parsing,
    strip_nodes_to_text,
)
from ._common import authors_from_ld, date_from_ld, free_access, make_body, make_images, title_from_meta

_V1_PARAGRAPH = XPath("//div[contains(@class,'r1nj4qn5')]")
_SUMMARY = CSSSelector("p.c1bdz7f4")
_SUBHEAD = CSSSelector("h2.hhhtovw")

_V11_PARAGRAPH = XPath(
    "//main/div[@data-testid='text-module']/div[@class='c10o8fzf']/p[@class='r1nj4qn5 rvqyqzi']|"
    "//figure/blockquote"
)
_V11_TOPIC = XPath("//div[@class='t130q2hl']//a")

_IMAGE = XPath(
    "//picture//img[not(contains(@class, 'error') or contains(@src, 'zdfheute-whatsapp-channel'))"
    " or contains(@alt, 'Autorenfoto')]"
)
_CAPTION = XPath(
    "./ancestor::*[(self::div and @class='c1owvrps c10o8fzf') or self::figure]//*[contains(@class,'c1pbsmr2')]"
)
_CREDIT = XPath(
    "./ancestor::*[(self::div and @class='c1owvrps c10o8fzf') or self::figure]//small[contains(@class, 'tsdggcs')]"
)
_LOWER = XPath("//div[@class='s1am5zo f1uhhdhr']")


def _topics_v11(ctx: ParseContext) -> List[str]:
    topic_string = strip_nodes_to_text(_V11_TOPIC(ctx.doc), join_on=",")
    if topic_string is not None:
        return generic_topic_parsing(topic_string, delimiter=",")
    return []


_COMMON = [
    Extractor("title", title_from_meta()),
    Extractor("authors", authors_from_ld(), default=list),
    Extractor("publishing_date", date_from_ld()),
    Extractor("free_access", free_access, default=False),
]

ZDF = PublisherSpec(
    key="de.ZDF",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2025, 8, 1),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD)),
                    Extractor(
                        "images",
                        make_images(
                            _V1_PARAGRAPH,
                            image_selector=_IMAGE,
                            caption_selector=_CAPTION,
                            author_selector=_CREDIT,
                            lower_boundary_selector=_LOWER,
                        ),
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
                    Extractor("body", make_body(_V11_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD)),
                    Extractor("topics", _topics_v11, default=list),
                    Extractor(
                        "images",
                        make_images(
                            _V11_PARAGRAPH,
                            image_selector=_IMAGE,
                            caption_selector=_CAPTION,
                            author_selector=_CREDIT,
                            lower_boundary_selector=_LOWER,
                        ),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
    ),
)
