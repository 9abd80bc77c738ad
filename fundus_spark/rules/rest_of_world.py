"""Rest of World rule spec — semantics per reference
``src/fundus/publishers/us/rest_of_world.py`` (single V1).
"""

from __future__ import annotations

from typing import List

from ..kernel import CSSSelector, ParseContext, PublisherSpec, VersionSpec, XPath, generic_topic_parsing
from ._common import authors_from_ld_path, date_from_ld_path, make_body, make_images, std_extractors, title_from_ld_path

_SUMMARY = CSSSelector("div.post-subheader__summary li, p.post-header__text__dek")
_PARAGRAPH = CSSSelector("div.post-content > p")
_SUBHEAD = CSSSelector("div.post-content > h2")
_IMAGE = XPath("//figure//img | //img[@src or @data-src]")
_CAPTION = XPath("./ancestor::figure[1]//*[contains(@class,'figcaption__caption')][1]")
_CREDIT = XPath(
    "(./ancestor::figure[1]//*[(contains(@class,'figcaption__credit') "
    "or contains(@class,'credit') or contains(@class,'byline'))])[last()]"
)


def _topics(ctx: ParseContext) -> List[str]:
    return generic_topic_parsing(ctx.ld.xpath_search("NewsArticle/keywords", scalar=True))


REST_OF_WORLD = PublisherSpec(
    key="us.RestOfWorld",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_ld_path("NewsArticle/author"),
                date=date_from_ld_path("NewsArticle/datePublished"),
                title=title_from_ld_path("NewsArticle/headline"),
                topics=_topics,
                images=make_images(
                    _PARAGRAPH,
                    image_selector=_IMAGE,
                    caption_selector=_CAPTION,
                    author_selector=_CREDIT,
                    relative_urls=True,
                ),
            ),
        ),
    ),
)
