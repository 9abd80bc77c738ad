"""La Vanguardia rule spec — semantics per reference
``src/fundus/publishers/es/la_vanguardia.py`` (V1 valid until
2026-07-01, V2 after).


Round 2: full golden parity — the former image-position delta was a
missing libxml2 behavior (implied <body>+<p> on >=1000-char whitespace
runs / noscript-in-head nesting), now reproduced in kernel/dom.py.
"""

from __future__ import annotations

import datetime
import re
from typing import List

from ..kernel import Extractor, ParseContext, PublisherSpec, VersionSpec, XPath, generic_author_parsing
from ._common import (
    authors_from_ld,
    date_from_ld,
    free_access,
    make_body,
    make_images,
    std_extractors,
    title_from_meta,
    topics_from_nodes,
)

_V1_PARAGRAPH = XPath(
    "//div[@class='article-modules']//p[@class='paragraph'] | "
    "//div[@class='widget' and not(@id)]//p[not(@class='creditos')]"
)
_V1_SUBHEAD = XPath(
    "//div[@class='article-modules']//h3[@class='subtitle'] | "
    "//div[@class='widget' and not(@id)]//h2|//span[@class='ubicacion']"
)
_V1_SUMMARY = XPath("//h2[@class='epigraph']|//div[@id='slide-content-1']/p")
_V1_IMAGE = XPath("//figure[contains(@class,'composite-image')]//img")
_V1_CAPTION = XPath("./ancestor::figure//figcaption/p")
_V1_CREDIT = XPath("./ancestor::figure//figcaption/span")

_V2_SUMMARY = XPath("//h2[@class='subtitle dot']")
_V2_PARAGRAPH = XPath("//div[@class='article_story']/p")
_V2_SUBHEAD = XPath(
    "//div[@class='article_story']/div[@class='content_component highlight']/h3[@class='title'] | "
    "//h3[contains(@class, 'block-headline')]"
)
_V2_TOPIC = XPath("(//div[@class='tags-container collapse'])[1]/ul/li")
_V2_IMAGE = XPath("//figure[not(contains(@class, 'related') or contains(@class, 'author'))]//img")
_V2_CAPTION = XPath("./ancestor::figure//figcaption/span[@class='caption_text']")
_V2_CREDIT = XPath("./ancestor::figure//figcaption/span[@class='caption_author']")


def _authors_v1(ctx: ParseContext) -> List[str]:
    return [re.sub(r"(?u)\s*​.*", "", author) for author in generic_author_parsing(ctx.ld.bf_search("author"))]


LA_VANGUARDIA = PublisherSpec(
    key="es.LaVanguardia",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2026, 7, 1),
            extractors=(
                Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                Extractor("publishing_date", date_from_ld()),
                Extractor("title", title_from_meta("title")),
                Extractor("authors", _authors_v1, default=list),
                Extractor(
                    "images",
                    make_images(
                        _V1_PARAGRAPH,
                        image_selector=_V1_IMAGE,
                        caption_selector=_V1_CAPTION,
                        author_selector=_V1_CREDIT,
                        relative_urls=True,
                    ),
                    default=list,
                ),
                Extractor("free_access", free_access, default=False),
            ),
        ),
        VersionSpec(
            name="V2",
            extractors=std_extractors(
                body=make_body(_V2_PARAGRAPH, summary=_V2_SUMMARY, subheadline=_V2_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_meta(),
                topics=topics_from_nodes(_V2_TOPIC),
                images=make_images(
                    _V2_PARAGRAPH,
                    image_selector=_V2_IMAGE,
                    caption_selector=_V2_CAPTION,
                    author_selector=_V2_CREDIT,
                    relative_urls=False,
                ),
            ),
        ),
    ),
)
