"""Anadolu Ajansı rule spec — reference
``src/fundus/publishers/tr/anadolu_ajansi.py`` (V1 until 2026-04-05;
V2 LD-path based).
"""

from __future__ import annotations

import datetime
import re
from typing import List, Optional

from ..kernel import (
    CSSSelector,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    generic_author_parsing,
    generic_date_parsing,
    generic_topic_parsing,
)
from ._common import (
    authors_from_ld_path,
    date_from_ld_path,
    make_body,
    make_images,
    std_extractors,
    title_from_ld_path,
    title_from_meta,
)

_V1_SUMMARY = CSSSelector("div.detay-bg > div > div > h4")
_V1_PARAGRAPH = XPath(
    "//div[@class='detay-icerik']"
    "//h6[not(ancestor::div[@class='detay-paylas'])] | "
    "//div[@class='detay-icerik']//p"
)
_V1_SUBHEAD = CSSSelector("div.detay-icerik > div:nth-child(2) > h3")
_V1_AUTHOR = CSSSelector("div.detay-bg > div > div > div > span:nth-child(1)")
_V1_DATE = CSSSelector("div.detay-bg > div > div > div > span.tarih")


def _authors_v1(ctx: ParseContext) -> List[str]:
    if authors_list := _V1_AUTHOR(ctx.doc):
        if (content := authors_list[0].text) is None:
            return []
        return generic_author_parsing(content.replace("|", ""))
    return []


def _date_v1(ctx: ParseContext) -> Optional[datetime.datetime]:
    if date_nodes := _V1_DATE(ctx.doc):
        if (content := date_nodes[0].text) is None:
            return None
        match = re.search(r"(\d{2}\.\d{2}\.\d{4})", content)
        if match is None:
            return None
        return generic_date_parsing(match.group(1))
    return None


def _topics_v1(ctx: ParseContext) -> List[str]:
    if keywords_ := (
        generic_topic_parsing(ctx.meta.get("keywords")) or generic_topic_parsing(ctx.ld.bf_search("keywords"))
    ):
        if "Anadolu Ajansı" in keywords_:
            keywords_.remove("Anadolu Ajansı")
        return keywords_
    return []


_V1_IMAGES = make_images(
    _V1_PARAGRAPH,
    image_selector=CSSSelector("div.row.detay.container > div.col-md-10 > img,div img[alt='']"),
    relative_urls=True,
)

_V2_PARAGRAPH = XPath("//div[@dir]/p")
_V2_SUBHEAD = XPath("//div[@dir]/h2")
_V2_SUMMARY = XPath("//span[contains(@class, 'text-descriptionColor')]")


def _topics_v2(ctx: ParseContext) -> List[str]:
    return generic_topic_parsing(ctx.ld.xpath_search("//NewsArticle/keywords"))


_V2_IMAGES = make_images(
    _V2_PARAGRAPH,
    image_selector=XPath("//*[(self::div and @class='content-media-slider__media') or self::figure or self::p]/img"),
    caption_selector=XPath("./ancestor::figure/figcaption"),
    author_selector=re.compile(r"(?i)Fotoğraf\s*:(?P<credits>.*)$"),
)

ANADOLU_AJANSI = PublisherSpec(
    key="tr.AnadoluAjansi",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2026, 4, 5),
            extractors=std_extractors(
                body=make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD),
                authors=_authors_v1,
                date=_date_v1,
                title=title_from_meta("og:title"),
                topics=_topics_v1,
                images=_V1_IMAGES,
            ),
        ),
        VersionSpec(
            name="V2",
            extractors=std_extractors(
                body=make_body(_V2_PARAGRAPH, summary=_V2_SUMMARY, subheadline=_V2_SUBHEAD),
                authors=authors_from_ld_path("//NewsArticle/author"),
                date=date_from_ld_path("//NewsArticle/datePublished"),
                title=title_from_ld_path("//NewsArticle/headline"),
                topics=_topics_v2,
                images=_V2_IMAGES,
            ),
        ),
    ),
)
