"""The BBC rule spec — semantics per reference
``src/fundus/publishers/uk/the_bbc.py`` (V1 valid until 2026-02-03,
V2 after).
"""

from __future__ import annotations

import datetime
from typing import List, Optional

from ..kernel import (
    CSSSelector,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    generic_nodes_to_text,
    generic_topic_parsing,
    normalize_whitespace,
    strip_nodes_to_text,
)
from ._common import authors_from_ld, date_from_ld, make_body, make_images, std_extractors, title_from_ld

_V1_SUBHEAD = XPath(
    "//div[@data-component='subheadline-block' or @data-component='text-block' or contains(@class, 'ebmt73l0')]"
    "//*[self::h2 or (self::p and b and not(text()) and position()>1)]"
)
_V1_SUMMARY = XPath(
    "(//div[@data-component='text-block' or contains(@class, 'ebmt73l0')])[1] //p[b and not(text) and position()=1]"
)
_V1_PARAGRAPH = XPath(
    "//div[@data-component='text-block' or contains(@class, 'ebmt73l0')][1]//p[not(b) and text()] |"
    "//div[@data-component='text-block' or contains(@class, 'ebmt73l0')][position()>1] //p[text()] |"
    "//div[@data-component='text-block' or contains(@class, 'ebmt73l0')] //ul /li[text()]"
)
_V1_TOPIC = CSSSelector("div[data-component='topic-list'] > div > div > ul > li ,div[data-component='tags'] a")
_V1_IMAGE = XPath("//figure //img[not(@src='/bbcx/grey-placeholder.png')]")
_V1_CAPTION = XPath("./ancestor::figure//figcaption//p")
_V1_CREDIT = XPath("./ancestor::figure//span[@role='text']/text()")

_V2_PARAGRAPH = XPath("//div[@data-component='text-block' or @data-block='text']//p[text() or b]")
_V2_SUBHEAD = XPath("//div[@data-component='subheadline-block' or @data-block='subheadline']//h2")
_V2_TOPIC = XPath("//div[@data-component='tag-list-block' or @data-block='topicList']//a")
_V2_H1 = XPath("//h1")


def _topics_v1(ctx: ParseContext) -> List[str]:
    return [normalize_whitespace(node.text_content()) for node in _V1_TOPIC(ctx.doc)]


def _title_v2(ctx: ParseContext) -> Optional[str]:
    return strip_nodes_to_text(_V2_H1(ctx.doc))


def _topics_v2(ctx: ParseContext) -> List[str]:
    return generic_topic_parsing(generic_nodes_to_text(_V2_TOPIC(ctx.doc)))


THE_BBC = PublisherSpec(
    key="uk.BBC",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2026, 2, 3),
            extractors=std_extractors(
                body=make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_ld(),
                topics=_topics_v1,
                images=make_images(
                    _V1_PARAGRAPH, image_selector=_V1_IMAGE, caption_selector=_V1_CAPTION, author_selector=_V1_CREDIT
                ),
            ),
        ),
        VersionSpec(
            name="V2",
            extractors=std_extractors(
                body=make_body(_V2_PARAGRAPH, subheadline=_V2_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=_title_v2,
                topics=_topics_v2,
                images=make_images(_V2_PARAGRAPH, caption_selector=_V1_CAPTION, author_selector=_V1_CREDIT),
            ),
        ),
    ),
)
