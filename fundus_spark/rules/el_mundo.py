"""El Mundo rule spec — semantics per reference
``src/fundus/publishers/es/el_mundo.py`` (single V1).
"""

from __future__ import annotations

from typing import List

from ..kernel import ParseContext, PublisherSpec, VersionSpec, XPath, generic_topic_parsing
from ._common import authors_from_ld, date_from_ld, make_body, make_images, std_extractors, title_from_ld

_PARAGRAPH = XPath("//div[@class='ue-c-article__body']/p")
_SUBHEAD = XPath("//div[@class='ue-c-article__body']/h2")
_SUMMARY = XPath("//div[@class='ue-c-article__standfirst']//p")
_IMAGE = XPath("//figure//img[contains(@class, 'article__image')]")
_CAPTION = XPath("./ancestor::figure//figcaption//span[contains(@class, 'description')]")
_CREDIT = XPath("./ancestor::figure//figcaption//span[contains(@class, 'source')]/span")


def _topics(ctx: ParseContext) -> List[str]:
    return [topic.split("/")[-1] for topic in generic_topic_parsing(ctx.meta.get("keywords"))]


EL_MUNDO = PublisherSpec(
    key="es.ElMundo",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_ld(),
                topics=_topics,
                images=make_images(
                    _PARAGRAPH, image_selector=_IMAGE, caption_selector=_CAPTION, author_selector=_CREDIT
                ),
            ),
        ),
    ),
)
