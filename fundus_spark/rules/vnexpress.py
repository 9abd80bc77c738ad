"""VnExpress International rule spec — reference
``src/fundus/publishers/vn/vnexpress.py``.
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
    generic_author_parsing,
    strip_nodes_to_text,
)
from ._common import date_from_ld_path, make_body, make_images, std_extractors, title_from_ld_path, topics_from_meta

_SUMMARY = CSSSelector("p.description")
_PARAGRAPH = XPath("//article[@class='fck_detail ']//p[not(@style or @class='author_mail')]")
_AUTHOR = XPath("//article[@class='fck_detail ']//p[@style='text-align:right;' or @class='author_mail']")


def _authors(ctx: ParseContext) -> List[str]:
    return generic_author_parsing(strip_nodes_to_text(_AUTHOR(ctx.doc)))


_IMAGES = make_images(
    _PARAGRAPH,
    author_selector=re.compile(r"(?i)(Ảnh:|Video:)\s*(?P<credits>.+)$"),
    upper_boundary_selector=XPath("//h1"),
)

VNEXPRESS = PublisherSpec(
    key="vn.VnExpress",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY),
                authors=_authors,
                date=date_from_ld_path("//NewsArticle/datePublished"),
                title=title_from_ld_path("//NewsArticle/headline"),
                topics=topics_from_meta("keywords", result_filter={"Tin nóng"}),
                images=_IMAGES,
            ),
        ),
    ),
)
