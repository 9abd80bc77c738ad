"""Bild rule spec — semantics per reference
``src/fundus/publishers/de/bild.py`` (single V1; free_access from the
/bild-plus/ URL marker).
"""

from __future__ import annotations

import re

from ..kernel import Extractor, ParseContext, PublisherSpec, VersionSpec, XPath
from ._common import authors_from_ld, date_from_ld, make_body, make_images, title_from_meta, topics_from_meta

_PARAGRAPH = XPath("//div[@class = 'article-body']/p[position() > 1]")
_SUMMARY = XPath("//div[@class = 'article-body']/p[1]")
_SUBHEAD = XPath("//div[@data-key = 'article']/h2")
_IMAGE = XPath("//figure//img[not(contains(@class, 'teaser') or contains(@class, 'author'))]")
_CAPTION = XPath("./ancestor::figure//p[@class='fig__caption__text']")
_CREDIT = XPath("./ancestor::figure//div[@class='fig__caption__meta']")


def _free_access(ctx: ParseContext) -> bool:
    if (url := ctx.meta.get("og:url")) is not None:
        return re.search(r"/bild-plus/", url) is None
    return True


BILD = PublisherSpec(
    key="de.Bild",
    versions=(
        VersionSpec(
            name="V1",
            extractors=(
                Extractor("body", make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD)),
                Extractor("authors", authors_from_ld(), default=list),
                Extractor("publishing_date", date_from_ld()),
                Extractor("title", title_from_meta()),
                Extractor("topics", topics_from_meta(), default=list),
                Extractor("free_access", _free_access, default=True),
                Extractor(
                    "images",
                    make_images(_PARAGRAPH, image_selector=_IMAGE, caption_selector=_CAPTION, author_selector=_CREDIT),
                    default=list,
                ),
            ),
        ),
    ),
)
