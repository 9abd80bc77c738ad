"""Business Insider DE rule spec — semantics per reference
``src/fundus/publishers/de/business_insider_de.py`` (single V1).
"""

from __future__ import annotations

from typing import List

from ..kernel import CSSSelector, ParseContext, PublisherSpec, VersionSpec, XPath, generic_topic_parsing
from ._common import authors_from_ld, date_from_ld, make_body, make_images, std_extractors, title_from_meta

_SUMMARY = CSSSelector("article div.bi-bulletpoints li, article div.bi-bulletpoints > p")
_SUBHEAD = CSSSelector("article > div > h2, article > div > h3")
_PARAGRAPH = XPath(
    """
    //article
    //div[
        contains(@class, 'article-body')
        or contains(@class, 'piano-article')]
    /p[
        not(ancestor::*[@class='bi-bulletpoints']
            or mark[@class='has-inline-color has-cyan-bluish-gray-color']
            or @class='has-text-align-right')]
    """
)
_IMAGE = XPath("//img[not(contains(@class, 'size-thumbnail-square'))]")


def _topics(ctx: ParseContext) -> List[str]:
    return generic_topic_parsing(ctx.meta.get("keywords")) or generic_topic_parsing(ctx.ld.bf_search("keywords"))


BUSINESS_INSIDER_DE = PublisherSpec(
    key="de.BusinessInsiderDE",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_meta(),
                topics=_topics,
                images=make_images(_PARAGRAPH, image_selector=_IMAGE),
            ),
        ),
    ),
)
