"""Nature rule spec — semantics per reference
``src/fundus/publishers/uk/nature.py`` (V1 valid until 2026-02-01,
V1_1 after; custom paywall-based free_access).
"""

from __future__ import annotations

import datetime
import re

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath
from ._common import authors_from_ld, date_from_ld, make_body, make_images, title_from_ld, topics_from_ld

_V1_SUMMARY = CSSSelector("div.c-article-abstract p, p.c-article-abstract")
_V1_PARAGRAPH = XPath(
    "//div[@data-test='access-teaser']//p"
    "["
    "  not(ancestor::*[@data-label='Related' or contains(@class, 'recommended')])"
    "  and not(contains(@class, 'recommended__title'))"
    "  and not(ancestor::figure)"
    "  and not(ancestor::figcaption)"
    "  and not(ancestor::a)"
    "]"
)
_V1_SUBHEAD = XPath("//div[@data-test='access-teaser']//h2[not(ancestor::article[contains(@class, 'recommended')])]")
_V1_LOWER = XPath(
    "(//*[(@class='app-access-wall') or "
    "contains(@class, 'c-related-articles') or "
    "(self::article and contains(@class, 'related'))])[1]"
)
_V1_PAYWALL = XPath("//div[@class='app-access-wall__container']")

_V11_PARAGRAPH = XPath(
    "//div[@data-test='main-content' or contains(@class,'main-content')]//p"
    "["
    "  not(ancestor::*[@data-label='Related' or contains(@class, 'recommended')])"
    "  and not(contains(@class, 'recommended__title'))"
    "  and not(ancestor::figure)"
    "  and not(ancestor::figcaption)"
    "  and not(ancestor::a)"
    "  and not(contains(@class, 'app-access-wall'))"
    "  and text()"
    "] |"
    "//div[@class='c-article-body']/section//p |"
    "//p[@class='article__teaser']"
)
_V11_SUMMARY = XPath("//div[@class='c-article-teaser-text']")
_V11_SUBHEAD = XPath(
    "//div[@data-test='main-content' or contains(@class,'main-content')]"
    "//h2"
    "["
    "not(ancestor::article[contains(@class, 'recommended')])"
    "  and not(contains(@class, 'app-access-wall'))"
    "  and not(@id='access-options')"
    "] |"
    "//div[@class='c-article-body']/section//h2"
)
_V11_LOWER = XPath("(//aside)[2]")
_V11_PAYWALL = XPath("//div[contains(@class, 'buybox')]")

_CAPTION = XPath("./ancestor::figure//figcaption")
_CREDIT = re.compile(r"(?i)\s*(credit|source|illustration|analysis by):?\s+(?P<credits>.*)")
_BLOAT_TOPICS = {"multidisciplinary", "Science", "Humanities and Social Sciences"}


def _free_access(paywall):
    def fn(ctx: ParseContext) -> bool:
        return not bool(paywall(ctx.doc))

    return fn


_NATURE_COMMON = [
    Extractor("publishing_date", date_from_ld()),
    Extractor("authors", authors_from_ld(), default=list),
    Extractor("title", title_from_ld()),
    Extractor("topics", topics_from_ld(result_filter=_BLOAT_TOPICS), default=list),
]

NATURE = PublisherSpec(
    key="uk.Nature",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2026, 2, 1),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                    Extractor("free_access", _free_access(_V1_PAYWALL), default=False),
                    Extractor(
                        "images",
                        make_images(
                            _V1_PARAGRAPH,
                            relative_urls=True,
                            caption_selector=_CAPTION,
                            author_selector=_CREDIT,
                            lower_boundary_selector=_V1_LOWER,
                        ),
                        default=list,
                    ),
                ]
                + _NATURE_COMMON
            ),
        ),
        VersionSpec(
            name="V1_1",
            extractors=tuple(
                [
                    Extractor("body", make_body(_V11_PARAGRAPH, summary=_V11_SUMMARY, subheadline=_V11_SUBHEAD)),
                    Extractor("free_access", _free_access(_V11_PAYWALL), default=False),
                    Extractor(
                        "images",
                        make_images(
                            _V11_PARAGRAPH,
                            relative_urls=True,
                            caption_selector=_CAPTION,
                            author_selector=_CREDIT,
                            lower_boundary_selector=_V11_LOWER,
                        ),
                        default=list,
                    ),
                ]
                + _NATURE_COMMON
            ),
        ),
    ),
)
