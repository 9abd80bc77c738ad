"""Corriere della Sera rule spec — semantics per reference
``src/fundus/publishers/it/corriere_della_sera.py`` (single V1;
topics from the BreadcrumbList LD with a wildcard path step).
"""

from __future__ import annotations

import re
from typing import List

from ..kernel import ParseContext, PublisherSpec, VersionSpec, XPath, generic_author_parsing, generic_topic_parsing
from ._common import date_from_ld_path, make_body, make_images, std_extractors, title_from_ld

_SUMMARY = XPath("//p[contains(@class, 'summary')]")
_PARAGRAPH = XPath("//p[@class='chapter-paragraph' and text()]")
_SUBHEAD = XPath("//h2[contains(@class, 'native-summary-content')]")
_CREDIT = re.compile(r"\(foto (?P<credits>.*)\)\s*$")


def _authors(ctx: ParseContext) -> List[str]:
    authors = ctx.ld.xpath_search("//NewsArticle/author")
    if authors:
        return generic_author_parsing(authors)
    return []


def _topics(ctx: ParseContext) -> List[str]:
    breadcrumb_items = ctx.ld.xpath_search("//BreadcrumbList/itemListElement/*/name")
    if breadcrumb_items:
        return generic_topic_parsing(breadcrumb_items[1:])
    section = ctx.ld.xpath_search("//NewsArticle/articleSection", scalar=True)
    if section:
        return generic_topic_parsing([section])
    return []


CORRIERE_DELLA_SERA = PublisherSpec(
    key="it.CorriereDellaSera",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=_authors,
                date=date_from_ld_path("//NewsArticle/datePublished"),
                title=title_from_ld(),
                topics=_topics,
                images=make_images(_PARAGRAPH, author_selector=_CREDIT),
            ),
        ),
    ),
)
