"""Daily News (Tanzania) shared rule spec — reference
``src/fundus/publishers/tz/daily_news_tz.py`` (one parser behind
DailyNewsTZ and HabariLeo; no topics attribute).
"""

from __future__ import annotations

import re
from typing import List, Optional

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath, generic_author_parsing
from ._common import date_from_ld, free_access, make_body, make_images

_SUMMARY = CSSSelector("div.cs-entry__subtitle")
_SUBHEAD = XPath("//div[contains(@class,'entry-content')]//p[not(text() or position()=1)]//span//strong")
_PARAGRAPH = XPath(
    "//div[contains(@class, 'entry-content')]"
    "//p[not(re:test(string(.), '^(SOMA|ALSO READ):') or span or @class) and text()] | "
    "//div[contains(@class, 'entry-content')]//p[not(position()=1 or @class)]//span[not(span) and text()] |"
    "//div[contains(@class, 'entry-content')]//p[not(@class)]//span/span[text()] | "
    "//div[contains(@class, 'entry-content')]//p[position()=1 and not(@class or a)] | "
    "//div[contains(@class, 'entry-content')]//span[@data-offset-key]"
)


def _title(ctx: ParseContext) -> Optional[str]:
    return ctx.ld.xpath_search("(//Article//headline)[1]", scalar=True) or re.sub(
        r"(?i)\s*-\s*(daily\s*news|habari\s*leo)\s*",
        "",
        ctx.meta.get("og:title") or "",
    )


def _authors(ctx: ParseContext) -> List[str]:
    return generic_author_parsing(ctx.meta.get("twitter:data1") or ctx.ld.xpath_search("//Article//author"))


_IMAGES = make_images(
    _PARAGRAPH,
    upper_boundary_selector=XPath("//div[@id='content']"),
    image_selector=XPath("//figure//img[1]|//div[@id='content']//p/img"),
    caption_selector=XPath(
        "./ancestor::figure//figcaption | "
        "./ancestor::div[@class='cs-entry__thumbnail']//div[@class='cs-entry__thumbnail-caption'] |"
        "(./ancestor::p//following-sibling::p[@style='text-align: center'])[1]/strong"
    ),
    author_selector=re.compile(r"\((?P<credits>[^()]+)\)"),
)

_EXTRACTORS = (
    Extractor("body", make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD)),
    Extractor("title", _title),
    Extractor("authors", _authors, default=list),
    Extractor("publishing_date", date_from_ld()),
    Extractor("images", _IMAGES, default=list),
    Extractor("free_access", free_access, default=False),
)

DAILY_NEWS_TZ = PublisherSpec(key="tz.DailyNewsTZ", versions=(VersionSpec(name="V1", extractors=_EXTRACTORS),))
HABARI_LEO = PublisherSpec(key="tz.HabariLeo", versions=(VersionSpec(name="V1", extractors=_EXTRACTORS),))
