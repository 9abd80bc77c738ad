"""Der Postillon rule spec — semantics per reference
``src/fundus/publishers/de/postillon.py`` (single V1).

Round 2: full golden parity — the former image-position delta was a
missing libxml2 behavior (implied <body>+<p> on >=1000-char whitespace
runs / noscript-in-head nesting), now reproduced in kernel/dom.py.
"""

from __future__ import annotations

from typing import List

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath
from ._common import date_from_ld, free_access, make_body, make_images, title_from_meta

_PARAGRAPH = CSSSelector("div[id=post-body] p")
_POSTSCRIPT = CSSSelector("div[id=post-body] > span")
_IMAGE = XPath("//div[@class='entry-content-wrap flex-col']//img")


def _authors(ctx: ParseContext) -> List[str]:
    postscript = _POSTSCRIPT(ctx.doc)
    if not postscript:
        return []
    author_line = postscript[0].text_content().split(";")[0]
    return [a.strip() for a in author_line.split(",")]


POSTILLON = PublisherSpec(
    key="de.Postillon",
    versions=(
        VersionSpec(
            name="V1",
            extractors=(
                Extractor("body", make_body(_PARAGRAPH)),
                Extractor("title", title_from_meta()),
                Extractor("authors", _authors, default=list),
                Extractor("publishing_date", date_from_ld()),
                Extractor("images", make_images(_PARAGRAPH, image_selector=_IMAGE), default=list),
                Extractor("free_access", free_access, default=False),
            ),
        ),
    ),
)
