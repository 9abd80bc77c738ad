"""FAZ rule spec — semantics per reference
``src/fundus/publishers/de/faz.py`` (V1 until 2024-04-15, V2 until
2025-02-26, V3 after).
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
    generic_author_parsing,
    generic_topic_parsing,
    parse_title_from_root,
    strip_nodes_to_text,
)
from ._common import (
    authors_from_ld,
    date_from_ld,
    make_body,
    make_images,
    std_extractors,
    title_from_meta,
    topics_from_meta,
)

_V1_PARAGRAPH = CSSSelector("div.atc-Text > p")
_V1_SUMMARY = CSSSelector("div.atc-Intro > p")
_V1_SUBHEAD = CSSSelector("div.atc-Text > h3")
_V1_AUTHOR = CSSSelector(".atc-MetaAuthor")

_V2_SUMMARY = CSSSelector("div.header-teaser")
_V2_PARAGRAPH = CSSSelector(".body-elements__paragraph")
_V2_SUBHEAD = CSSSelector("div.body-elements > h3")
_V2_AUTHOR_META = CSSSelector("div.author-meta")
_V2_TOPIC = XPath("//div[text()=' Schlagworte: '] /a")
_V2_IMAGE = XPath("//figure//img|//picture//img")
_V2_CAPTION = XPath("./ancestor::figure//span")
_V2_CREDIT = XPath("./ancestor::figure//em")

_V3_SUMMARY = CSSSelector("p[data-external-selector='header-teaser']")
_V3_PARAGRAPH = XPath("//*[@data-selector='body-paragraph']")
_V3_SUBHEAD = CSSSelector("div[data-external-selector='body-elements'] > div > h3")
_V3_TOPIC = CSSSelector("nav[aria-label='Themen in diesem Artikel'] a")
_V3_CAPTION = XPath(
    "./ancestor::figure//span | "
    "./ancestor::div[@data-external-selector='article-header']//span[@class='meta2 pr-[10px]']"
)
_V3_CREDIT = XPath(
    "./ancestor::figure//*[self::em or self::small] | "
    "./ancestor::div[@data-external-selector='article-header']//small"
)


def _authors_v1(ctx: ParseContext) -> List[str]:
    if not (author_nodes := _V1_AUTHOR(ctx.doc)):
        return []
    if len(author_nodes) > 1:
        # authors are linked with an <a> tag, cities are not
        author_nodes = [node for node in author_nodes if any(c.tag == "a" for c in node.children)]
    return [text for node in author_nodes if "F.A.Z" not in (text := node.text_content())]


def _topics_nodes(selector):
    def fn(ctx: ParseContext) -> List[str]:
        topic_string = strip_nodes_to_text(selector(ctx.doc), join_on=",")
        if topic_string is not None:
            topic_string = topic_string.replace(",Alle Themen", "")
            return generic_topic_parsing(topic_string, delimiter=",")
        return []

    return fn


def _authors_v2(ctx: ParseContext) -> List[str]:
    if _V2_AUTHOR_META(ctx.doc):
        return generic_author_parsing(ctx.ld.bf_search("author"))
    return []


def _title_v23(ctx: ParseContext) -> Optional[str]:
    return ctx.meta.get("og:title") or parse_title_from_root(ctx.doc)


FAZ = PublisherSpec(
    key="de.FAZ",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2024, 4, 15),
            extractors=std_extractors(
                body=make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD),
                authors=_authors_v1,
                date=date_from_ld(),
                title=title_from_meta(),
                topics=topics_from_meta(),
            ),
        ),
        VersionSpec(
            name="V2",
            valid_until=datetime.date(2025, 2, 26),
            extractors=std_extractors(
                body=make_body(_V2_PARAGRAPH, summary=_V2_SUMMARY, subheadline=_V2_SUBHEAD),
                authors=_authors_v2,
                date=date_from_ld(),
                title=_title_v23,
                topics=_topics_nodes(_V2_TOPIC),
                images=make_images(
                    _V2_PARAGRAPH, image_selector=_V2_IMAGE, caption_selector=_V2_CAPTION, author_selector=_V2_CREDIT
                ),
            ),
        ),
        VersionSpec(
            name="V3",
            extractors=std_extractors(
                body=make_body(_V3_PARAGRAPH, summary=_V3_SUMMARY, subheadline=_V3_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=_title_v23,
                topics=_topics_nodes(_V3_TOPIC),
                images=make_images(
                    _V3_PARAGRAPH, image_selector=_V2_IMAGE, caption_selector=_V3_CAPTION, author_selector=_V3_CREDIT
                ),
            ),
        ),
    ),
)
