"""MDR rule spec — semantics per reference
``src/fundus/publishers/de/mdr.py:21-151`` (V1 valid until 2026-06-01,
V2 after). Exercises EXSLT regex-in-XPath paragraph filtering, author
substitution patterns, bf_search dates, a priority-1 DOM mutation
(quote punctuation insertion), and relative image URLs.
"""

from __future__ import annotations

import datetime
import re
from typing import List, Optional, Pattern

from ..kernel import (
    CSSSelector,
    Extractor,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    apply_substitution_pattern_over_list,
    generic_author_parsing,
    generic_text_extraction,
    generic_topic_parsing,
    strip_nodes_to_text,
)
from ._common import date_from_ld, make_body, make_images, std_extractors, topics_from_meta

_AUTHOR_SUBSTITUTION: Pattern[str] = re.compile(r"MDR \w*$|MDR \w*-\w*$|MDRfragt-Redaktionsteam|^von")
_SOURCE_DETECTION = (
    r"^((MDR (AKTUELL ){0,1}\(([A-z]{2,3}(\/[A-z]{2,3})*|[A-z, ]{2,50}))\)|"
    r"(Quell(e|en): (u.a. ){0,1}[A-z,]{3,4})|[A-z]{2,4}(, [A-z]{2,4}){0,3}( \([A-z]{2,4}\)){0,1}$|"
    r"[A-z]{2,4}\/[A-z(), \/]{3,10}$)"
)
_V1_PARAGRAPH = XPath(
    f"//div[contains(@class, 'paragraph')]"
    f"/p[not(re:test(em, '{_SOURCE_DETECTION}') or re:test(text(), '{_SOURCE_DETECTION}'))]"
)
_V1_SUMMARY = CSSSelector("p.einleitung")
_V1_SUBHEAD = CSSSelector("div > h3.subtitle")
_V1_AUTHOR = CSSSelector(".articleMeta > .author")
_V1_IMAGE = XPath("//div[contains(@class,'mediaCon ') and not(@data-ctrl-player)]//noscript/img")
_V1_CAPTION = XPath("./ancestor::div[@class='media mediaA ']//span[@class='mediaSubtitle']")
_V1_IMG_AUTHOR = XPath("./ancestor::div[@class='media mediaA ']//span[@class='mediaRights copyright']")
_V1_UPPER = XPath("//div[@id='content']")

_V2_SUMMARY = XPath("//header/p[@class='preface']")
_V2_PARAGRAPH = XPath(
    "//article/p[string-length(@class)<1 and text()] | //article/ul/li[text()] |//article/blockquote"
)
_V2_SUBHEAD = XPath("//article/h2")
_V2_BLOCKQUOTE_EM = XPath("//article/blockquote/span/em")
_V2_HEADLINE = XPath("//header/h1")
_V2_IMAGE = XPath("//article//img[not(ancestor::div[contains(@class, 'teaser')])]")
_V2_CAPTION = XPath("./ancestor::div[contains(@class, 'contentimage')]//span[@class='caption small']")
_V2_LOWER = XPath("//nav[@class='sharebox']")
_V2_UPPER = XPath("//article")

_V2_BLOAT_TOPICS = {
    "newsticker",
    "SpiO",
    "Sport",
    "Sport im Osten",
    "kulturnachrichten",
    "kulturarena",
    "Thüringen",
    "Sachsen",
    "Sachsen-Anhalt",
    "Anhalt",
}


def _topics_v1(ctx: ParseContext) -> List[str]:
    if ctx.meta.get("news_keywords") is not None:
        return generic_topic_parsing(ctx.meta.get("news_keywords"))
    return generic_topic_parsing(ctx.meta.get("keywords"))


def _authors_v1(ctx: ParseContext) -> List[str]:
    if raw := generic_text_extraction(ctx.doc, _V1_AUTHOR):
        raw = raw.replace(" und ", ", ")
        names = [name.strip() for name in raw.split(",")]
        return apply_substitution_pattern_over_list(names, _AUTHOR_SUBSTITUTION)
    return []


def _title_v1(ctx: ParseContext) -> Optional[str]:
    title = ctx.ld.bf_search("headline")
    return title if isinstance(title, str) else None


def _insert_quote_punctuation(ctx: ParseContext) -> None:
    for node in _V2_BLOCKQUOTE_EM(ctx.doc):
        node.text = f"«{node.text}.» - "


def _authors_v2(ctx: ParseContext) -> List[str]:
    return generic_author_parsing(ctx.ld.xpath_search("//NewsArticle/author"), split_on=[", ", " und "])


def _title_v2(ctx: ParseContext) -> Optional[str]:
    return strip_nodes_to_text(_V2_HEADLINE(ctx.doc))


MDR = PublisherSpec(
    key="de.MDR",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2026, 6, 1),
            extractors=std_extractors(
                body=make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD),
                authors=_authors_v1,
                date=date_from_ld(),
                title=_title_v1,
                topics=_topics_v1,
                images=make_images(
                    _V1_PARAGRAPH,
                    upper_boundary_selector=_V1_UPPER,
                    image_selector=_V1_IMAGE,
                    caption_selector=_V1_CAPTION,
                    author_selector=_V1_IMG_AUTHOR,
                ),
            ),
        ),
        VersionSpec(
            name="V2",
            extractors=std_extractors(
                body=make_body(_V2_PARAGRAPH, summary=_V2_SUMMARY, subheadline=_V2_SUBHEAD),
                authors=_authors_v2,
                date=date_from_ld(),
                title=_title_v2,
                topics=topics_from_meta(result_filter=_V2_BLOAT_TOPICS),
                images=make_images(
                    _V2_PARAGRAPH,
                    upper_boundary_selector=_V2_UPPER,
                    image_selector=_V2_IMAGE,
                    caption_selector=_V2_CAPTION,
                    lower_boundary_selector=_V2_LOWER,
                    relative_urls=True,
                ),
                extra=(Extractor("insert_quote_punctuation", _insert_quote_punctuation, kind="function", priority=1),),
            ),
        ),
    ),
)
