"""La Repubblica rule spec — semantics per reference
``src/fundus/publishers/it/la_repubblica.py`` (single V1).
"""

from __future__ import annotations

import re
from typing import List

from ..kernel import (
    CSSSelector,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    generic_author_parsing,
    generic_topic_parsing,
)
from ._common import date_from_ld_path, make_body, make_images, std_extractors, title_from_meta

_SUMMARY = CSSSelector("div.story__summary p")
_PARAGRAPH = CSSSelector("div.story__text p")
_SUBHEAD = CSSSelector("div.story__text h2")
_IMAGE = XPath("//figure[not(@class='inline-article__media')]//*[not(self::noscript)]/img")
_CREDIT = re.compile(r"\((foto)?(?P<credits>.*)\)$")


def _authors(ctx: ParseContext) -> List[str]:
    authors = ctx.ld.xpath_search("//NewsArticle/author")
    if authors:
        return generic_author_parsing(authors)
    return []


def _topics(ctx: ParseContext) -> List[str]:
    topics = ctx.ld.xpath_search("//NewsArticle/about/name")
    return generic_topic_parsing(topics) if topics else []


LA_REPUBBLICA = PublisherSpec(
    key="it.LaRepubblica",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=_authors,
                date=date_from_ld_path("//NewsArticle/datePublished"),
                title=title_from_meta(),
                topics=_topics,
                images=make_images(_PARAGRAPH, image_selector=_IMAGE, author_selector=_CREDIT),
            ),
        ),
    ),
)
