"""junge Welt rule spec — semantics per reference
``src/fundus/publishers/de/junge_welt.py`` (V1 valid until 2026-04-24,
V1_1 after; login-wall-based free_access).
"""

from __future__ import annotations

import datetime

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath
from ._common import authors_from_meta, date_from_ld, make_body, make_images, title_from_meta, topics_from_meta

_V1_PARAGRAPH = XPath(
    "//div[@class = 'row']/div[contains(@class, 'col') and not(@class = 'col-md-8 mx-auto mt-4 bg-light')]/p"
)
_V1_SUMMARY = CSSSelector(".teaser.lead")
_V1_SUBHEAD = XPath("//div[@class = 'row']/div[contains(@class,'col')]/h3")
_FREE_ACCESS = XPath("//h1[text()='Sie sind nun eingeloggt.']|//p[@class='m-1']")
_V1_CAPTION = XPath("./ancestor::figure//div[contains(@class, 'caption')]")

_V11_PARAGRAPH = XPath(
    "//div[div[@id='article-meta-footer']] //div[contains(@class, 'content')]//p[not(strong) or text()]"
)
_V11_SUMMARY = XPath("//article/h2 | //div[contains(@class, 'content')]/p[position()=1 and strong]")
_V11_SUBHEAD = XPath(
    "//div[contains(@class, 'content')]/h3 | //div[contains(@class, 'content')]/p[position()>1 and strong]"
)
_V11_IMAGE = XPath("//article//div[contains(@class, 'mx-auto')]/img")
_V11_CAPTION = XPath("./ancestor::div[contains(@class, 'mx-auto')]//div[contains(@class, 'text-base/6')]")
_V11_CREDIT = XPath("./ancestor::div[contains(@class, 'mx-auto')]//span")


def _free_access(ctx: ParseContext) -> bool:
    return not bool(_FREE_ACCESS(ctx.doc))


_COMMON = [
    Extractor("authors", authors_from_meta("Author"), default=list),
    Extractor("title", title_from_meta()),
    Extractor("topics", topics_from_meta(), default=list),
    Extractor("free_access", _free_access, default=True),
    Extractor("publishing_date", date_from_ld()),
]

JUNGE_WELT = PublisherSpec(
    key="de.JungeWelt",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2026, 4, 24),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                    Extractor(
                        "images",
                        make_images(_V1_PARAGRAPH, caption_selector=_V1_CAPTION, relative_urls=True),
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
                    Extractor("body", make_body(_V11_PARAGRAPH, summary=_V11_SUMMARY, subheadline=_V11_SUBHEAD)),
                    Extractor(
                        "images",
                        make_images(
                            _V11_PARAGRAPH,
                            image_selector=_V11_IMAGE,
                            caption_selector=_V11_CAPTION,
                            author_selector=_V11_CREDIT,
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
