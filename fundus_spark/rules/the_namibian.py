"""The Namibian rule spec — reference
``src/fundus/publishers/na/the_namibian.py`` (V1 until 2024-01-31;
V1_1 rewrites raw ``<br>`` runs into paragraph opens before parsing;
no topics attribute).
"""

from __future__ import annotations

import re
from datetime import date
from typing import Any, Dict, Optional

from ..kernel import Extractor, ParseContext, PublisherSpec, VersionSpec, XPath, assemble_body, parse_html
from ._common import authors_from_ld_path, date_from_meta, free_access, make_body, make_images

_V1_SUMMARY = XPath("//div[contains(@class, 'tdb-block-inner')]/p[position()=1]")
_V1_PARAGRAPH = XPath("//div[contains(@class, 'tdb-block-inner')]/p[position()>1]")

_TITLE_SUB = re.compile(r" - The Namibian$")


def _title(ctx: ParseContext) -> Optional[str]:
    title = ctx.meta.get("og:title")
    if title is not None:
        return re.sub(_TITLE_SUB, "", title)
    return title


_V1_IMAGES = make_images(_V1_PARAGRAPH, upper_boundary_selector=XPath("//h1[@class='tdb-title-text']"))

_V11_PARAGRAPH = XPath("//div[contains(@class, 'entry-content')]/p[(text() or strong) and position()>1]")
_V11_SUMMARY = XPath("//div[contains(@class, 'entry-content')]/p[(text() or strong) and position()=1] ")


def _body_v11(ctx: ParseContext) -> Optional[Dict[str, Any]]:
    html = re.sub(r"(<br>)+", "<p>", ctx.html)
    doc = parse_html(html)
    return assemble_body(doc, paragraph_selector=_V11_PARAGRAPH, summary_selector=_V11_SUMMARY)


_V11_IMAGES = make_images(_V11_PARAGRAPH, upper_boundary_selector=XPath("//main"))

THE_NAMIBIAN = PublisherSpec(
    key="na.TheNamibian",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=date(2024, 1, 31),
            extractors=(
                Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY)),
                Extractor("publishing_date", date_from_meta("article:published_time")),
                Extractor("title", _title),
                Extractor("authors", authors_from_ld_path("//Person/name"), default=list),
                Extractor("images", _V1_IMAGES, default=list),
                Extractor("free_access", free_access, default=False),
            ),
        ),
        VersionSpec(
            name="V1_1",
            extractors=(
                Extractor("body", _body_v11),
                Extractor("publishing_date", date_from_meta("article:published_time")),
                Extractor("title", _title),
                Extractor("authors", authors_from_ld_path("//Person/name"), default=list),
                Extractor("images", _V11_IMAGES, default=list),
                Extractor("free_access", free_access, default=False),
            ),
        ),
    ),
)
