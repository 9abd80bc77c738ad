"""CNBC rule spec — semantics per reference
``src/fundus/publishers/us/cnbc.py`` (single V1; ``key_points`` is an
unvalidated extra attribute).
"""

from __future__ import annotations

from typing import List

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_ld_path,
    date_from_ld_path,
    make_body,
    std_extractors,
    title_from_ld_path,
    topics_from_meta,
)

_SUBHEAD = CSSSelector("div[data-module = 'ArticleBody'] > h2")
_PARAGRAPH = XPath("//div[@data-module='ArticleBody'] / div[@class='group'] / p[text()]")
_KEY_POINTS = CSSSelector("div.RenderKeyPoints-list li")


def _key_points(ctx: ParseContext) -> List[str]:
    return [node.text_content() for node in _KEY_POINTS(ctx.doc)]


CNBC = PublisherSpec(
    key="us.CNBC",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, subheadline=_SUBHEAD),
                authors=authors_from_ld_path("NewsArticle/author"),
                date=date_from_ld_path("NewsArticle/datePublished"),
                title=title_from_ld_path("NewsArticle/headline"),
                topics=topics_from_meta(),
                extra=(Extractor("key_points", _key_points, default=list, validate=False),),
            ),
        ),
    ),
)
