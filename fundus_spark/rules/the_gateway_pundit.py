"""The Gateway Pundit rule spec — semantics per reference
``src/fundus/publishers/us/the_gateway_pundit.py`` (V1 valid until
2026-05-27, V2 after).
"""

from __future__ import annotations

import datetime
import re
from typing import Optional

from ..kernel import Extractor, ParseContext, PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_ld_path,
    authors_from_nodes,
    date_from_meta,
    free_access,
    make_body,
    make_images,
    title_from_ld_path,
)

_V1_RELATED = r"^Click\s$"
_V1_PARAGRAPH = XPath(
    f"(//div[@class='entry-content'] | //div[@class='entry-content']/blockquote[not(@class='twitter-tweet')]) "
    f"/p[not(child::img or child::script or re:test(text(), '{_V1_RELATED}')) and text()]"
)
_V1_IMAGE = XPath("//div[@class='entry-content']//img")
_V1_CREDIT = XPath("./ancestor::figure//figcaption")

_V2_RELATED = (
    r"(?i)^(Click|This article appeared originally|(read )?more:|watch:|more from .{0,20}:|trending:"
    r"|this video is)\s*"
)
_V2_AUTHOR = XPath("//span[@class='author-name']")
_V2_SUMMARY = XPath(
    f"//article//p[not(text())]/strong[text() and not(re:test(text(), '{_V2_RELATED}'))] |"
    f"//div[@class='entry-content']/h3"
)
_V2_PARAGRAPH = XPath(
    f"//div[@class='entry-content']//p[not(ancestor::blockquote[@class='twitter-tweet']) "
    f"and not(child::img or child::script or re:test(normalize-space(.), '{_V2_RELATED}')) and text()] |"
    f"//div[@class='entry-content']//ul/li[not(@class)] |"
    f"//div[@class='entry-content']//p[not(text())]/em"
)
_V2_CAPTION = XPath("./ancestor::figure//figcaption")
_V2_CREDIT = re.compile(r"(?i)photo by(?P<credits>.*)$")


def _title_v1(ctx: ParseContext) -> Optional[str]:
    if (title := ctx.meta.get("og:title")) is not None:
        title = title.split("|")[0].strip()
    return title


THE_GATEWAY_PUNDIT = PublisherSpec(
    key="us.TheGatewayPundit",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2026, 5, 27),
            extractors=(
                Extractor("body", make_body(_V1_PARAGRAPH)),
                Extractor("authors", authors_from_ld_path("Article/author"), default=list),
                Extractor("publishing_date", date_from_meta("article:published_time")),
                Extractor("title", _title_v1),
                Extractor(
                    "images",
                    make_images(_V1_PARAGRAPH, image_selector=_V1_IMAGE, author_selector=_V1_CREDIT),
                    default=list,
                ),
                Extractor("free_access", free_access, default=False),
            ),
        ),
        VersionSpec(
            name="V2",
            extractors=(
                Extractor("body", make_body(_V2_PARAGRAPH, summary=_V2_SUMMARY)),
                Extractor("title", title_from_ld_path("Article/headline")),
                Extractor("authors", authors_from_nodes(_V2_AUTHOR), default=list),
                Extractor("publishing_date", date_from_meta("article:published_time")),
                Extractor(
                    "images",
                    make_images(
                        _V2_PARAGRAPH,
                        image_selector=_V1_IMAGE,
                        caption_selector=_V2_CAPTION,
                        author_selector=_V2_CREDIT,
                    ),
                    default=list,
                ),
                Extractor("free_access", free_access, default=False),
            ),
        ),
    ),
)
