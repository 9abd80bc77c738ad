"""Die Zeit rule spec — semantics per reference
``src/fundus/publishers/de/die_zeit.py`` (single V1).
"""

from __future__ import annotations

import re
from typing import List

from ..kernel import (
    CSSSelector,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    apply_substitution_pattern_over_list,
    generic_author_parsing,
)
from ._common import date_from_ld, make_body, make_images, std_extractors, title_from_ld, topics_from_meta

_AUTHOR_SUB = re.compile(r"DIE ZEIT (Archiv)")
_PARAGRAPH = XPath("//div[@class = 'article-page']/p[not(contains(text(), '© dpa-infocom'))]")
_SUMMARY = CSSSelector("div.summary")
_SUBHEAD = CSSSelector("div.article-page > h2")
_IMAGE = XPath("//figure//img[@class='article__media-item']")
_CAPTION = XPath("./ancestor::figure//span[@class='figure__text']")
_CREDIT = XPath("./ancestor::figure//span[@class='figure__copyright']")
_LOWER = XPath("//nav[@class='breadcrumbs']")


def _authors(ctx: ParseContext) -> List[str]:
    return apply_substitution_pattern_over_list(generic_author_parsing(ctx.ld.bf_search("author")), _AUTHOR_SUB)


DIE_ZEIT = PublisherSpec(
    key="de.DieZeit",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=_authors,
                date=date_from_ld(),
                title=title_from_ld(),
                topics=topics_from_meta(),
                images=make_images(
                    _PARAGRAPH,
                    image_selector=_IMAGE,
                    caption_selector=_CAPTION,
                    author_selector=_CREDIT,
                    lower_boundary_selector=_LOWER,
                ),
            ),
        ),
    ),
)
