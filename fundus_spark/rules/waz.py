"""WAZ rule spec — semantics per reference
``src/fundus/publishers/de/waz.py`` (own V1 until 2024-02-21 and V1_1
until 2025-08-24; V2/V2_1 reuse the shared Funke parser versions).
"""

from __future__ import annotations

import datetime
import re
from typing import List

from ..kernel import (
    CSSSelector,
    Extractor,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    generic_author_parsing,
    generic_topic_parsing,
)
from ._common import authors_from_meta, date_from_ld, free_access, make_body, make_images, title_from_meta
from .funke import FUNKE

_V1_PARAGRAPH = CSSSelector(".article__body > p")
_V1_SUMMARY = CSSSelector(".article__header__intro__text")
_V1_SUBHEAD = CSSSelector(".article__body > h3")
_TOPICS = XPath("//div[@class='not-prose  mb-4 mx-5 font-sans']/ul/li")
_LOWER = XPath("//a[@href='/' and contains(text(), 'Startseite')]")
_CAPTION = XPath("(./ancestor::figure//figcaption//span)[1]")
_CREDIT = XPath("(./ancestor::figure//figcaption//span)[2]")

_V11_PARAGRAPH = XPath(
    "//div[@class='article-body'] /p[position()>1 and not(@rel='author' or re:test(string(), '^>>.*[+]{3}'))]"
)
_V11_SUMMARY = XPath("//div[@class='article-body'] /p[position()=1]")
_V11_SUBHEAD = XPath("//div[@class='article-body'] / h3[not(text()='Auch interessant')]")


def _topics(ctx: ParseContext) -> List[str]:
    authors = generic_author_parsing(ctx.meta.get("author"))
    if topics := generic_topic_parsing(ctx.meta.get("keywords")):
        return [topic for topic in topics if topic not in authors]
    return [re.sub(r"\s*:.+", "", node.text_content()).strip() for node in _TOPICS(ctx.doc)]


_COMMON = [
    Extractor("title", title_from_meta()),
    Extractor("authors", authors_from_meta("author"), default=list),
    Extractor("publishing_date", date_from_ld()),
    Extractor("topics", _topics, default=list),
    Extractor("free_access", free_access, default=False),
]

# reuse Funke's later versions wholesale (reference WAZ.V2 = Funke.V1_1,
# WAZ.V2_1 = Funke.V1_2)
_FUNKE_BY_NAME = {v.name: v for v in FUNKE.versions}

WAZ = PublisherSpec(
    key="de.WAZ",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2024, 2, 21),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                    Extractor(
                        "images",
                        make_images(
                            _V1_PARAGRAPH,
                            lower_boundary_selector=_LOWER,
                            caption_selector=_CAPTION,
                            author_selector=_CREDIT,
                        ),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
        VersionSpec(
            name="V1_1",
            valid_until=datetime.date(2025, 8, 24),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V11_PARAGRAPH, summary=_V11_SUMMARY, subheadline=_V11_SUBHEAD)),
                    Extractor(
                        "images",
                        make_images(
                            _V11_PARAGRAPH,
                            lower_boundary_selector=_LOWER,
                            caption_selector=_CAPTION,
                            author_selector=_CREDIT,
                        ),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
        VersionSpec(
            name="V2",
            valid_until=datetime.date(2025, 10, 22),
            extractors=_FUNKE_BY_NAME["V1_1"].extractors,
        ),
        VersionSpec(
            name="V2_1",
            extractors=_FUNKE_BY_NAME["V1_2"].extractors,
        ),
    ),
)
