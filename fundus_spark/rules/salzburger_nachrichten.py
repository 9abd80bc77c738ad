"""Salzburger Nachrichten rule spec — reference
``src/fundus/publishers/at/salzburger_nachrichten.py`` (V1 until
2025-12-10 without topics; V2 with articleTags topics).
"""

from __future__ import annotations

import datetime

from ..kernel import CSSSelector, Extractor, PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_ld,
    date_from_ld,
    free_access,
    make_body,
    make_images,
    std_extractors,
    title_from_ld_path,
    topics_from_nodes,
)

_V1_PARAGRAPH = XPath("//div[contains(@class, 'article-body-text') or contains(@class,'section-text')]/p")
_V1_SUBHEAD = XPath("//div[contains(@class, 'article-body-text') or contains(@class,'section-text')]//h2")
_V1_SUMMARY = XPath("//p[@class='article-leadtext']")


_V1_IMAGES = make_images(
    _V1_PARAGRAPH,
    upper_boundary_selector=XPath("//h1"),
    caption_selector=XPath("./ancestor::figure//div[contains(@class, 'description')]"),
    author_selector=XPath("./ancestor::figure//div[contains(@class, 'copyright')]"),
)

_V2_SUMMARY = CSSSelector("div.articleContent > p.vorspann")
_V2_PARAGRAPH = XPath(r"//div[contains(@class, 'articleText')] /p[not(re:test(string(.), '^\(Quelle:.*\)$'))]")
_V2_SUBHEAD = CSSSelector("div.articleText > h2")
_V2_TOPIC = XPath("//div[@class='articleTags']")


_V2_IMAGES = make_images(
    _V2_PARAGRAPH,
    upper_boundary_selector=XPath("//article"),
    caption_selector=XPath(
        "./ancestor::figure//figcaption[not(child::div[@class='bildunterschrift'])]/text() |"
        "./ancestor::figure//figcaption/div[@class='bildunterschrift']"
    ),
    author_selector=XPath("./ancestor::figure//div[@class='bildautor']"),
    lower_boundary_selector=CSSSelector("div.commentOuter"),
    relative_urls=True,
)

SALZBURGER_NACHRICHTEN = PublisherSpec(
    key="at.SalzburgerNachrichten",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2025, 12, 10),
            extractors=(
                Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                Extractor("authors", authors_from_ld(), default=list),
                Extractor("publishing_date", date_from_ld()),
                Extractor("title", title_from_ld_path("NewsArticle/headline")),
                Extractor("images", _V1_IMAGES, default=list),
                Extractor("free_access", free_access, default=False),
            ),
        ),
        VersionSpec(
            name="V2",
            extractors=std_extractors(
                body=make_body(_V2_PARAGRAPH, summary=_V2_SUMMARY, subheadline=_V2_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_ld_path("NewsArticle/headline"),
                topics=topics_from_nodes(_V2_TOPIC),
                images=_V2_IMAGES,
            ),
        ),
    ),
)
