"""SRF rule spec — semantics per reference
``src/fundus/publishers/ch/srf.py`` (V1 valid until 2024-12-03,
V2 after).
"""

from __future__ import annotations

import datetime
from typing import List, Optional

from ..kernel import Extractor, ParseContext, PublisherSpec, VersionSpec, XPath, generic_author_parsing
from ._common import date_from_meta, free_access, make_body, make_images

_TITLE = XPath("//span[@class='article-title__text']")
_AUTHOR = XPath("//span[@itemprop='author']")
_V1_PARAGRAPH = XPath(
    "//section[@class='article-content']//span[@class='blockquote__text'] | "
    "//section[@class='article-content']/p | "
    "//section[@class='article-content']/li | "
    "//section[@class='article-content']/ul/li"
)
_V1_SUMMARY = XPath("//header[@class='article-header']/p[@class='article-lead']")
_V1_SUBHEAD = XPath(
    "//section[@class='article-content']/h2 | "
    "//section[@class='article-content']//div[@id='ticker']//li//span[@itemprop='headline']"
)
_V1_CAPTION = XPath("./ancestor::figure//span[@class='media-caption__description']")
_V1_CREDIT = XPath("./ancestor::figure//span[@class='media-caption__source']")
_V1_IMAGE = XPath("//picture[@class='image ']//img")
_V1_LOWER = XPath("(//div[@class='sharing-bar__container'])[2]")

_V2_SUMMARY = XPath("//p[@class='article-lead'] |//ul[@class='article-list' and not(preceding-sibling::*)]/li")
_V2_PARAGRAPH = XPath("//p[@class='article-paragraph'] |//ul[@class='article-list' and preceding-sibling::*]/li")
_V2_SUBHEAD = XPath("//h2[@class='article-heading']|//h3[@class='article-subheading']")


def _authors(ctx: ParseContext) -> List[str]:
    if not (author_nodes := _AUTHOR(ctx.doc)):
        return []
    if len(author_nodes) > 1:
        author_list = []
        for node in author_nodes:
            for author in node.text_content().split(";"):
                author_list.append(author)
        return generic_author_parsing(author_list)
    return generic_author_parsing([name for name in author_nodes[0].text_content().split(";")])


def _title(ctx: ParseContext) -> Optional[str]:
    if not (title_node := _TITLE(ctx.doc)):
        return None
    return title_node[0].text_content()


SRF = PublisherSpec(
    key="ch.SRF",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2024, 12, 3),
            extractors=(
                Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                Extractor("authors", _authors, default=list),
                Extractor("publishing_date", date_from_meta("article:published_time")),
                Extractor("title", _title),
                Extractor(
                    "images",
                    make_images(
                        _V1_PARAGRAPH,
                        caption_selector=_V1_CAPTION,
                        author_selector=_V1_CREDIT,
                        image_selector=_V1_IMAGE,
                        lower_boundary_selector=_V1_LOWER,
                    ),
                    default=list,
                ),
                Extractor("free_access", free_access, default=False),
            ),
        ),
        VersionSpec(
            name="V2",
            extractors=(
                Extractor("body", make_body(_V2_PARAGRAPH, summary=_V2_SUMMARY, subheadline=_V2_SUBHEAD)),
                Extractor("authors", _authors, default=list),
                Extractor("title", _title),
                Extractor("publishing_date", date_from_meta("datePublished")),
                Extractor("free_access", free_access, default=False),
            ),
        ),
    ),
)
