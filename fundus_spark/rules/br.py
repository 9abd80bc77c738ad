"""BR rule spec — semantics per reference
``src/fundus/publishers/de/br.py`` (V1 until 2024-08-26, V1_1 until
2026-03-29; images credit via EXSLT re:match over @title).
"""

from __future__ import annotations

import datetime
from typing import Optional

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath, generic_date_parsing
from ._common import authors_from_ld, date_from_ld, free_access, make_body, make_images, topics_from_ld

_V1_SUMMARY = XPath(
    "//div[starts-with(@class, 'ArticleHeader_section')]"
    "//p[starts-with(@class, 'ArticleModuleTeaser_teaserText') or starts-with(@class, 'ArticleItemTeaserText_text')]"
)
_V1_PARAGRAPH = XPath("(//div[starts-with(@class, 'ArticleModuleText_content')])[1]//p")
_V1_SUBHEAD = XPath(
    "//section[starts-with(@class, 'ArticleModuleText_wrapper')]"
    "//div[starts-with(@class, 'ArticleModuleText_content')]//h2"
)
_IMAGE = XPath("//figure[not(parent::aside)]//img")
_CREDIT = XPath(r"re:match(./@title, '(?<=\|\sBild:\s).*$')")

_V11_BLOAT = "Das ist die Europäische Perspektive bei BR24."
_V11_SUMMARY = XPath("//header //p[@class='body3 ArticleItemTeaserText_text__H_RS_']")
_V11_SUBHEAD = XPath("//section[@id='articlebody'] //h2[text()]")
_V11_PARAGRAPH = XPath(
    f"//section[@id='articlebody'] //section[@class='ArticleModuleText_wrapper__AyX6M'] "
    f"//p[text() and not(re:test(string(), '{_V11_BLOAT}'))] |"
    "//section[@id='articlebody'] //section[@class='ArticleModuleText_wrapper__AyX6M'] //li |"
    "//section[@class='ShortnewsDetail_content__79bZq'] //p[1]"
)
_V11_DATE = CSSSelector("p.ShortnewsDetail_source__2ep85.heading4")

_V12_PARAGRAPH = XPath("//article//p[@class='body3'] |(//section[@id='articlebody']//section)[1]//p")
_V12_SUMMARY = XPath("//header//p[contains(@class,'ArticleItemTeaserText')]")
_V12_SUBHEAD = XPath("(//section[@id='articlebody']//section)[1]//h2")
_V12_IMAGE = XPath("//figure[not(parent::aside) and contains(@class, 'mediaImage')]//img")


def _title(ctx: ParseContext) -> Optional[str]:
    return title if isinstance(title := ctx.ld.bf_search("headline"), str) else None


def _publishing_date_v11(ctx: ParseContext) -> Optional[datetime.datetime]:
    if date_nodes := _V11_DATE(ctx.doc):
        if (content := date_nodes[0].text) is None:
            return None
        date_string = content.split(",")[-1]
        tz_aware_date = date_string.replace("Uhr", "+02:00")
        return generic_date_parsing(tz_aware_date)
    return generic_date_parsing(ctx.ld.bf_search("datePublished"))


_COMMON = [
    Extractor("title", _title),
    Extractor("authors", authors_from_ld(), default=list),
    Extractor("topics", topics_from_ld(), default=list),
    Extractor("free_access", free_access, default=False),
]

BR = PublisherSpec(
    key="de.BR",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2024, 8, 26),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                    Extractor("publishing_date", date_from_ld()),
                    Extractor(
                        "images",
                        make_images(_V1_PARAGRAPH, image_selector=_IMAGE, author_selector=_CREDIT),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
        VersionSpec(
            name="V1_1",
            valid_until=datetime.date(2026, 3, 29),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V11_PARAGRAPH, summary=_V11_SUMMARY, subheadline=_V11_SUBHEAD)),
                    Extractor("publishing_date", _publishing_date_v11),
                    Extractor(
                        "images",
                        make_images(_V11_PARAGRAPH, image_selector=_IMAGE, author_selector=_CREDIT),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
        VersionSpec(
            name="V1_2",
            extractors=tuple(
                [
                    Extractor("body", make_body(_V12_PARAGRAPH, summary=_V12_SUMMARY, subheadline=_V12_SUBHEAD)),
                    Extractor("publishing_date", _publishing_date_v11),
                    Extractor(
                        "images",
                        make_images(_V12_PARAGRAPH, image_selector=_V12_IMAGE, author_selector=_CREDIT),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
    ),
)
