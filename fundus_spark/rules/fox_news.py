"""Fox News rule spec — semantics per reference
``src/fundus/publishers/us/fox_news.py`` (single V1).
"""

from __future__ import annotations

from ..kernel import CSSSelector, PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_meta,
    date_from_ld,
    make_body,
    make_images,
    std_extractors,
    title_from_ld,
    topics_from_meta,
)

_SUMMARY = CSSSelector(".article-meta > h2")
_PARAGRAPH = XPath(
    "(//div[@class='article-body'] | //div[@class='article-body']/div[contains(@class, 'paywall')]) "
    "/p[not(child::script) and text()]"
)
_IMAGE = XPath("//article//picture//img[not(@*[starts-with(name(), 'data-v-')])]")
_CAPTION = XPath("(./ancestor::div[@class='image-ct inline']//div[@class='caption']/p/span)[1]")
_CREDIT = XPath("(./ancestor::div[@class='image-ct inline']//div[@class='caption']/p/span)[last()]")


FOX_NEWS = PublisherSpec(
    key="us.FoxNews",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY),
                authors=authors_from_meta("dc.creator"),
                date=date_from_ld(),
                title=title_from_ld(),
                topics=topics_from_meta("classification-tags"),
                images=make_images(
                    _PARAGRAPH, image_selector=_IMAGE, caption_selector=_CAPTION, author_selector=_CREDIT
                ),
            ),
        ),
    ),
)
