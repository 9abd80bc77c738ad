"""The Globe and Mail rule spec — reference
``src/fundus/publishers/ca/globe_and_mail.py`` (case-folded topic dedup
preserving first occurrence, 'news' topics dropped, then title-cased).
"""

from __future__ import annotations

from typing import List

from ..kernel import CSSSelector, ParseContext, PublisherSpec, VersionSpec, XPath, generic_topic_parsing
from ._common import authors_from_ld, date_from_ld, make_body, make_images, std_extractors, title_from_meta

_SUBHEAD = CSSSelector("article > h4")
_PARAGRAPH = CSSSelector("article > p")

_IMAGES = make_images(
    _PARAGRAPH,
    caption_selector=XPath("./ancestor::figure//figcaption//p[@class='figcap-text']/span[1]"),
    author_selector=XPath("./ancestor::figure//figcaption//p[@class='figcap-text']/span[last()]"),
)


def _topics(ctx: ParseContext) -> List[str]:
    topic_list = [topic.lower() for topic in generic_topic_parsing(ctx.meta.get("keywords"))]
    topic_set = set(topic_list)
    topic_duplicates = list(topic_list)
    for element in topic_set:
        topic_duplicates.remove(element)
    for duplicate in topic_duplicates:
        topic_list.remove(duplicate)
    return [topic.title() for topic in topic_list if "news" not in topic]


THE_GLOBE_AND_MAIL = PublisherSpec(
    key="ca.TheGlobeAndMail",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, subheadline=_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_meta("og:title"),
                topics=_topics,
                images=_IMAGES,
            ),
        ),
    ),
)
