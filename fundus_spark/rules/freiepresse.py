"""Freie Presse rule spec — semantics per reference
``src/fundus/publishers/de/freiepresse.py`` (V1 valid until 2024-08-04,
V1_1 after).
"""

from __future__ import annotations

import datetime
import re
from typing import List, Optional

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath, generic_author_parsing
from ._common import date_from_ld, free_access, make_body, make_images, topics_from_ld

_SUMMARY = CSSSelector("#artikel-content > p.bold")
_V1_PARAGRAPH = XPath("//*[@id='artikel-content']//p[not(ancestor::div[@class='pw-layer'] or @class='bold')]")
_SUBHEAD = CSSSelector("#artikel-content h2")
_V1_IMAGE = XPath("((//div[contains(@class,'wrapImg')]//picture)[1])//img | //img[@class='media-image']")
_V1_LOWER = XPath("//div[@class='section-topic']")
_V1_CAPTION = XPath("./ancestor::li[@class='img gallery-item']//span[@class='img-info']")
_CREDIT = re.compile(r"(?i)bild:(?P<credits>.*)")

_V11_PARAGRAPH = CSSSelector("#artikel-content p:not(.bold)")
_V11_IMAGE = XPath("//div[contains(@class, 'detail-img')]//img")
_V11_LOWER = CSSSelector("a.article__copyright")
_V11_CAPTION = XPath(
    "./ancestor::div[contains(@class, 'detail-img')]"
    "//div[contains(@class, 'detail-img__description')]"
    "/div"
    "/text()"
)


def _authors(ctx: ParseContext) -> List[str]:
    if not (authors := ctx.ld.xpath_search("NewsArticle/author")):
        return []
    return generic_author_parsing(
        [author for author in authors if not author == "Chemnitzer Verlag und Druck GmbH & Co. KG"]
    )


def _title(ctx: ParseContext) -> Optional[str]:
    if title := ctx.meta.get("og:title"):
        return re.sub(r"\s*\|.*", "", title)
    return None


_COMMON = [
    Extractor("publishing_date", date_from_ld()),
    Extractor("authors", _authors, default=list),
    Extractor("title", _title),
    Extractor("topics", topics_from_ld(delimiter="/"), default=list),
    Extractor("free_access", free_access, default=False),
]

FREIE_PRESSE = PublisherSpec(
    key="de.FreiePresse",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2024, 8, 4),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD)),
                    Extractor(
                        "images",
                        make_images(
                            _V1_PARAGRAPH,
                            image_selector=_V1_IMAGE,
                            lower_boundary_selector=_V1_LOWER,
                            caption_selector=_V1_CAPTION,
                            author_selector=_CREDIT,
                            relative_urls=True,
                        ),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
        VersionSpec(
            name="V1_1",
            extractors=tuple(
                [
                    Extractor("body", make_body(_V11_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD)),
                    Extractor(
                        "images",
                        make_images(
                            _V11_PARAGRAPH,
                            image_selector=_V11_IMAGE,
                            lower_boundary_selector=_V11_LOWER,
                            caption_selector=_V11_CAPTION,
                            author_selector=_CREDIT,
                            relative_urls=True,
                        ),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
    ),
)
