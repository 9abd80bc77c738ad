"""Funke Mediengruppe shared rule spec — semantics per reference
``src/fundus/publishers/de/funke.py`` (V1 until 2025-08-24, V1_1 until
2025-10-22, V1_2 after). Serves WAZ, BerlinerMorgenpost and
HamburgerAbendblatt (multi-tenant like Euronews; aliases in
rules/__init__).
"""

from __future__ import annotations

import datetime
import re
from typing import List

from ..kernel import (
    Extractor,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    apply_substitution_pattern_over_list,
    generic_author_parsing,
    generic_topic_parsing,
)
from ._common import date_from_ld, free_access, make_body, make_images, title_from_ld

_AUTHOR_SUB = re.compile(r"FUNKE Mediengruppe|.*dpa(:|-infocom).*|^red$")
_V1_PARAGRAPH = XPath(
    "//div[@class='article-body']//p[not(not(text()) or @rel='author' or em[@class='print'] or @class)]"
)
_V1_SUMMARY = XPath("//div[@class='article-body']/p[contains(@class, 'font-sans')]")
_V1_SUBHEAD = XPath(
    "//div[@class='article-body']//h3[not("
    "contains(text(), 'Alle Artikel der Serie')"
    " or contains(text(), 'Mehr zum Thema')"
    " or contains(text(), 'weitere Videos')"
    " or contains(text(), 'Auch interessant')"
    " or contains(text(), 'Weitere News')"
    " or @class)]"
)
_V1_TOPICS = XPath("//div[@class='not-prose  mb-4 mx-5 font-sans']/ul/li")
_V1_IMAGE = XPath("//img[not(contains(@class, 'rounded-full'))]")
_CREDIT = re.compile(r"©(?P<credits>.*)")

_V11_PARAGRAPH = XPath(
    "//div[contains(@class,'article-body')]"
    "/p[contains(@class,'expressive-copy-lg-body') and not(contains(text(), '>>')) and string-length(text()) > 10]|"
    "//div[contains(@class,'article-body')]//ul/li[string-length(text())>10 and not(a or article)]"
)
_V11_SUBHEAD = XPath(
    "//div[contains(@class,'article-body')]//h3[not("
    "contains(text(), 'Alle Artikel der Serie')"
    " or contains(text(), 'Mehr zum Thema')"
    " or contains(text(), 'weitere Videos')"
    " or contains(text(), 'Auch interessant')"
    " or contains(text(), 'Weitere News')"
    " or not(contains(@class, 'expressive-heading-xl'))"
    " or following-sibling::*[1][self::ul])]"
)
_V11_SUMMARY = XPath("//div[contains(@class, 'expressive-copy-lg')]")
_V11_IMAGE = XPath(
    "//img[contains(@class, 'lg:aspect-[16/9]') or not(contains(@class, 'aspect-[1/1]'))] | //figure/picture"
)
_V12_TOPICS = XPath("//a[@data-track-v2-parentlabel='Mehr lesen über'] ")


def _topics(selector):
    def fn(ctx: ParseContext) -> List[str]:
        if topics := generic_topic_parsing(ctx.meta.get("news_keywords")):
            return topics
        return [re.sub(r"\s*–.+", "", node.text_content()).strip() for node in selector(ctx.doc)]

    return fn


def _authors(ctx: ParseContext) -> List[str]:
    return apply_substitution_pattern_over_list(generic_author_parsing(ctx.ld.bf_search("author")), _AUTHOR_SUB)


_COMMON = [
    Extractor("title", title_from_ld()),
    Extractor("authors", _authors, default=list),
    Extractor("publishing_date", date_from_ld()),
    Extractor("free_access", free_access, default=False),
]

FUNKE = PublisherSpec(
    key="de.Funke",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2025, 8, 24),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                    Extractor("topics", _topics(_V1_TOPICS), default=list),
                    Extractor(
                        "images",
                        make_images(_V1_PARAGRAPH, image_selector=_V1_IMAGE, author_selector=_CREDIT),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
        VersionSpec(
            name="V1_1",
            valid_until=datetime.date(2025, 10, 22),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V11_PARAGRAPH, summary=_V11_SUMMARY, subheadline=_V11_SUBHEAD)),
                    Extractor("topics", _topics(_V1_TOPICS), default=list),
                    Extractor(
                        "images",
                        make_images(_V11_PARAGRAPH, image_selector=_V11_IMAGE, author_selector=_CREDIT),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
        VersionSpec(
            name="V1_2",
            extractors=tuple(
                [
                    Extractor("body", make_body(_V11_PARAGRAPH, summary=_V11_SUMMARY, subheadline=_V11_SUBHEAD)),
                    Extractor("topics", _topics(_V12_TOPICS), default=list),
                    Extractor(
                        "images",
                        make_images(_V11_PARAGRAPH, image_selector=_V11_IMAGE, author_selector=_CREDIT),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
    ),
)
