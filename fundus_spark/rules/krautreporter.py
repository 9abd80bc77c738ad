"""Krautreporter rule spec — semantics per reference
``src/fundus/publishers/de/krautreporter.py`` (single V1).
"""

from __future__ import annotations

from typing import List

from ..kernel import CSSSelector, ParseContext, PublisherSpec, VersionSpec, XPath, generic_topic_parsing
from ._common import authors_from_meta, date_from_ld_path, make_body, make_images, std_extractors, title_from_meta

_BLOAT = "^Redaktion:|^Dieser Artikel ist eine Übersetzung|^Übersetzung:|^Recherche:|^Schlussredaktion:"
_SUMMARY = CSSSelector("p[data-test='article-teaser']")
_SUBHEAD = CSSSelector("div.article-markdown > h2")
_PARAGRAPH = XPath(f"//div[contains(@class, 'article-markdown')] /p[not(re:test(string(), '{_BLOAT}'))]")
_TOPIC = XPath("string(//div[contains(@class, 'article-headers') and contains(@class, 'topic')])")
_IMAGE = XPath(
    "//section[@class='article-headers-shared-teaser-image']//img|"
    "//figure[contains(@class, 'image--default')]//img"
)
_CREDIT = XPath(
    "./ancestor::section[@class='article-headers-shared-teaser-image']"
    "//p[@class='article-headers-shared-teaser-image__credits']"
)


def _topics(ctx: ParseContext) -> List[str]:
    return generic_topic_parsing(_TOPIC(ctx.doc))


KRAUTREPORTER = PublisherSpec(
    key="de.Krautreporter",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_meta("author"),
                date=date_from_ld_path("NewsArticle/datePublished"),
                title=title_from_meta(),
                topics=_topics,
                images=make_images(_PARAGRAPH, image_selector=_IMAGE, author_selector=_CREDIT, relative_urls=True),
            ),
        ),
    ),
)
