"""Die Neue Südtiroler Tageszeitung rule spec — semantics per reference
``src/fundus/publishers/it/tageszeitung.py`` (single V1).
"""

from __future__ import annotations

import datetime
import re
from typing import Optional

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath, generic_date_parsing
from ._common import free_access, make_body, make_images

_SUMMARY = XPath("//div[@id='article_content']//p[not(@class='wp-caption-text' or text()) and strong][1]")
_PARAGRAPH = XPath(
    "//div[@id='article_content']//p[not(@class='wp-caption-text') and text()] |"
    "//div[@id='article_content']//p/span"
)
_DATE = XPath("//span[@class='meta_date']//strong/text()")
_UPPER = XPath("//div[@id='article_content']")
_IMAGE = XPath("//article//img")
_CAPTION = XPath("./ancestor::div[@class='wp-caption alignnone']//p[@class='wp-caption-text']")
_CREDIT = re.compile(r"(^|\()(Fotos?:|©)(?P<credits>[^)]+)\)?")
_LOWER = CSSSelector("div.single_share")


def _title(ctx: ParseContext) -> Optional[str]:
    return re.sub(r"(?i)\s*-\s*Die Neue Südtiroler Tageszeitung$", "", ctx.meta.get("og:title") or "")


def _publishing_date(ctx: ParseContext) -> Optional[datetime.datetime]:
    if not (publishing_date := _DATE(ctx.doc)):
        return None
    first = publishing_date[0]
    return generic_date_parsing(first.value if hasattr(first, "value") else first)


TAGESZEITUNG = PublisherSpec(
    key="it.Tageszeitung",
    versions=(
        VersionSpec(
            name="V1",
            extractors=(
                Extractor("body", make_body(_PARAGRAPH, summary=_SUMMARY)),
                Extractor("title", _title),
                Extractor("publishing_date", _publishing_date),
                Extractor(
                    "images",
                    make_images(
                        _PARAGRAPH,
                        upper_boundary_selector=_UPPER,
                        image_selector=_IMAGE,
                        caption_selector=_CAPTION,
                        author_selector=_CREDIT,
                        lower_boundary_selector=_LOWER,
                    ),
                    default=list,
                ),
                Extractor("free_access", free_access, default=False),
            ),
        ),
    ),
)
