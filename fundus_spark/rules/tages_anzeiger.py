"""Tages-Anzeiger rule spec — semantics per reference
``src/fundus/publishers/ch/tages_anzeiger.py`` (V1 valid until
2026-05-04, V1_1 after).
"""

from __future__ import annotations

import datetime
from typing import Any, Dict, List

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath, image_extraction
from ._common import authors_from_ld, date_from_ld, free_access, make_body, title_from_meta

_V1_SUMMARY = CSSSelector("p.ContentHead_lead____SsS")
_V1_SUBHEAD = CSSSelector("article > h2")
_V1_PARAGRAPH = CSSSelector(
    "article > p"
    ":not(.ContentHead_lead____SsS)"
    ":not(.Feedback_root__fr_Mi)"
    ":not(.ArticleContainer_agencies__g6Lpj)"
)
_CAPTION = XPath("./ancestor::figure//figcaption/div[1]")
_CREDIT = XPath("./ancestor::figure//figcaption/div[2]")
_V1_LOWER = CSSSelector("div.EndOfArticleSectionList_root__LJO7G")

_V11_PARAGRAPH = XPath(
    "//article//div[contains(@class, 'ArticleElementsList')]//p[contains(@class, 'articleParagraph')]"
)
_V11_SUMMARY = XPath(
    "//article//p[contains(@class, 'lead')] | "
    "//article//div[contains(@class, 'SummaryList')]//*[self::strong or self::li]"
)
_V11_SUBHEAD = XPath("//article//h2[contains(@class, 'crosshead')]")


def _images(paragraph, lower=None):
    def fn(ctx: ParseContext) -> List[Dict[str, Any]]:
        kwargs: Dict[str, Any] = dict(
            doc=ctx.doc,
            paragraph_selector=paragraph,
            caption_selector=_CAPTION,
            author_selector=_CREDIT,
        )
        if lower is not None:
            kwargs["lower_boundary_selector"] = lower
        return [img.serialize() for img in image_extraction(**kwargs)]

    return fn


_COMMON = [
    Extractor("authors", authors_from_ld(), default=list),
    Extractor("publishing_date", date_from_ld()),
    Extractor("title", title_from_meta()),
    Extractor("free_access", free_access, default=False),
]

TAGES_ANZEIGER = PublisherSpec(
    key="ch.TagesAnzeiger",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2026, 5, 4),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                    Extractor("images", _images(_V1_PARAGRAPH, _V1_LOWER), default=list),
                ]
                + _COMMON
            ),
        ),
        VersionSpec(
            name="V1_1",
            extractors=tuple(
                [
                    Extractor("body", make_body(_V11_PARAGRAPH, summary=_V11_SUMMARY, subheadline=_V11_SUBHEAD)),
                    Extractor("images", _images(_V11_PARAGRAPH), default=list),
                ]
                + _COMMON
            ),
        ),
    ),
)
