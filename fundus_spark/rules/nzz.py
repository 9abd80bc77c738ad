"""NZZ rule spec — semantics per reference
``src/fundus/publishers/ch/nzz.py`` (single V1).
"""

from __future__ import annotations

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
from ._common import date_from_meta, free_access, make_body, make_images, title_from_meta

_SUMMARY = CSSSelector("div.headline p.headline__lead")
_SUBHEAD = CSSSelector("div.article h2.subtitle, div.article h5.articlecomponent")
_PARAGRAPH = CSSSelector(
    "div.article section[data-nzz-tid='article'] p.articlecomponent:not(.footnote), "
    "div.article div.articlecomponent:not(.content-table) li"
)
_AUTHOR_SUB = re.compile(r"\(.+\)$")
_CAPTION = XPath("./ancestor::figure//h2")
_CREDIT = XPath("./ancestor::figure//div[@class='image-description__author']")
_UPPER = XPath("//section[@data-nzz-tid]")
_LOWER = XPath("//div[@class='sharebox']")


def _authors(ctx: ParseContext) -> List[str]:
    return apply_substitution_pattern_over_list(
        generic_author_parsing(ctx.ld.bf_search("author")), _AUTHOR_SUB, ""
    )


NZZ = PublisherSpec(
    key="ch.NZZ",
    versions=(
        VersionSpec(
            name="V1",
            extractors=(
                Extractor("body", make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD)),
                Extractor("authors", _authors, default=list),
                Extractor("publishing_date", date_from_meta("date")),
                Extractor("title", title_from_meta("title")),
                Extractor(
                    "images",
                    make_images(
                        _PARAGRAPH,
                        caption_selector=_CAPTION,
                        author_selector=_CREDIT,
                        upper_boundary_selector=_UPPER,
                        lower_boundary_selector=_LOWER,
                    ),
                    default=list,
                ),
                Extractor("free_access", free_access, default=False),
            ),
        ),
    ),
)
