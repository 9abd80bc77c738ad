"""elDiario.es rule spec — semantics per reference
``src/fundus/publishers/es/el_diario.py`` (single V1).
"""

from __future__ import annotations

from typing import List

from ..kernel import ParseContext, PublisherSpec, VersionSpec, XPath, generic_topic_parsing
from ._common import authors_from_ld, date_from_ld, make_body, make_images, std_extractors, title_from_ld

_PARAGRAPH = XPath("//div[@class='c-content']//p[@class='article-text']")
_SUBHEAD = XPath("//div[@class='c-content']//h2[@class='article-text']")
_SUMMARY = XPath(
    "//div[@class='news-header']//ul[@class='footer']//li[not(contains(@class, 'subtitle--hasAnchor'))]/h2[text()]"
)
_UPPER = XPath("//div[@class='row row__content']")
_LOWER = XPath("//div[@class='partner-wrapper']")
_IMAGE = XPath("//picture[@class='news-image']//img")
_CAPTION = XPath("./ancestor::figure//figcaption//span[@class='title']/text()")
_CREDIT = XPath("./ancestor::figure//figcaption//span[@class='title']/span")


def _topics(ctx: ParseContext) -> List[str]:
    return [topic.split("/")[-1] for topic in generic_topic_parsing(ctx.meta.get("keywords"))]


EL_DIARIO = PublisherSpec(
    key="es.ElDiario",
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
                    _PARAGRAPH,
                    upper_boundary_selector=_UPPER,
                    lower_boundary_selector=_LOWER,
                    image_selector=_IMAGE,
                    caption_selector=_CAPTION,
                    author_selector=_CREDIT,
                    relative_urls=True,
                ),
            ),
        ),
    ),
)
