"""Die Welt rule spec — semantics per reference
``src/fundus/publishers/de/die_welt.py`` (V1 valid until 2024-08-12,
V1_1 after).
"""

from __future__ import annotations

import datetime
import re
from typing import List

from ..kernel import (
    CSSSelector,
    Extractor,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    apply_substitution_pattern_over_list,
    generic_author_parsing,
)
from ._common import date_from_ld, free_access, make_body, make_images, title_from_ld, topics_from_meta

_AUTHOR_SUB = re.compile(r"WELT")

_V1_PARAGRAPH = CSSSelector("body .c-article-text > p")
_V1_SUMMARY = CSSSelector("div.c-summary__intro")
_V1_SUBHEAD = CSSSelector(".c-article-text > h3")

_V11_SUMMARY = CSSSelector("div.c-article-page__intro")
_V11_SUBHEAD = CSSSelector(".c-rich-text-renderer--article > h3")
_V11_PARAGRAPH = XPath("//div[contains(@class, 'c-rich-text-renderer--article')] /p[text()]")

_IMAGE = CSSSelector("figure:not(.c-inline-video) img")
_CAPTION = XPath("./ancestor::figure//span[@class='c-content-image__caption-alt']")
_CREDIT = XPath("./ancestor::figure//span[@class='c-content-image__caption-source']")
_LOWER = XPath("//section[@class='c-attached-content']")
_SIZE = re.compile(r"-w(?P<width>[0-9]+)/")


def _authors(ctx: ParseContext) -> List[str]:
    return apply_substitution_pattern_over_list(generic_author_parsing(ctx.ld.bf_search("author")), _AUTHOR_SUB)


_COMMON = [
    Extractor("authors", _authors, default=list),
    Extractor("publishing_date", date_from_ld()),
    Extractor("title", title_from_ld()),
    Extractor("topics", topics_from_meta(), default=list),
    Extractor("free_access", free_access, default=False),
]

DIE_WELT = PublisherSpec(
    key="de.DieWelt",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2024, 8, 12),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                    Extractor(
                        "images",
                        make_images(
                            _V1_PARAGRAPH,
                            image_selector=_IMAGE,
                            caption_selector=_CAPTION,
                            author_selector=_CREDIT,
                            lower_boundary_selector=_LOWER,
                            size_pattern=_SIZE,
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
                    Extractor("body", make_body(_V11_PARAGRAPH, summary=_V11_SUMMARY, subheadline=_V11_SUBHEAD)),
                    Extractor(
                        "images",
                        make_images(
                            _V11_PARAGRAPH,
                            image_selector=_IMAGE,
                            caption_selector=_CAPTION,
                            author_selector=_CREDIT,
                            lower_boundary_selector=_LOWER,
                            size_pattern=_SIZE,
                        ),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
    ),
)
