"""Kicker rule spec — semantics per reference
``src/fundus/publishers/de/kicker.py`` (single V1).
"""

from __future__ import annotations

from ..kernel import CSSSelector, Extractor, PublisherSpec, VersionSpec, XPath
from ._common import authors_from_ld, date_from_ld, free_access, make_body, make_images, title_from_meta

_PARAGRAPH = CSSSelector("div[class=kick__article__content__child] > p")
_SUMMARY = CSSSelector("p[class=kick__article__teaser]")
_SUBHEAD = CSSSelector("div[class=kick__article__content__child] > h2")
_UPPER = XPath("//article")
_IMAGE = XPath("//*[contains(@class,'kick__article__picture') and not(contains(@class, 'medias'))]//img")
_CAPTION = XPath("./ancestor::*[contains(@class, 'kick__article__picture ')]//p/text()")
_CREDIT = XPath("./ancestor::*[contains(@class, 'kick__article__picture ')]//p/span")


KICKER = PublisherSpec(
    key="de.Kicker",
    versions=(
        VersionSpec(
            name="V1",
            extractors=(
                Extractor("body", make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD)),
                Extractor("authors", authors_from_ld(), default=list),
                Extractor("publishing_date", date_from_ld()),
                Extractor("title", title_from_meta()),
                Extractor(
                    "images",
                    make_images(
                        _PARAGRAPH,
                        upper_boundary_selector=_UPPER,
                        image_selector=_IMAGE,
                        caption_selector=_CAPTION,
                        author_selector=_CREDIT,
                    ),
                    default=list,
                ),
                Extractor("free_access", free_access, default=False),
            ),
        ),
    ),
)
