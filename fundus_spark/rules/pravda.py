"""Ukrainska Pravda rule spec — reference
``src/fundus/publishers/ua/pravda.py``.

Delta: the reference's secondary date path uses ``dateparser`` (not
installed here); the fallback parses the Ukrainian byline date with a
local month map instead. The primary LD path is identical.
"""

from __future__ import annotations

import re
from datetime import datetime
from typing import List, Optional

from ..kernel import (
    CSSSelector,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    generic_author_parsing,
    generic_date_parsing,
    generic_nodes_to_text,
    strip_nodes_to_text,
)
from ._common import make_body, make_images, std_extractors, topics_from_nodes

_BOILERPLATE = (
    r"^Читайте також на цю тему:|"
    r"^Читайте также на эту тему:|"
    r"^Читайте більше у статті:|"
    r"^Читайте больше в статье:"
)
_PARAGRAPH = XPath(
    "//article[contains(@class,'post')]"
    f"//p[.//text()[normalize-space() and not(ancestor::em)] and not(re:test(normalize-space(string(.)), '{_BOILERPLATE}'))] |"
    "//article[contains(@class,'post')] //ul /li"
)
_SUBHEAD = XPath("//article[contains(@class,'post')]//h2")
_AUTHOR = XPath("//span[@class='post_news_author']|//p/strong/em")
_TOPIC = XPath("//div[@class='post_news_tags']/a")
_DATE = CSSSelector("div.post_article_author")

# Ukrainian/Russian month genitives -> month number (dateparser stand-in)
_UK_MONTHS = {
    "січня": 1, "лютого": 2, "березня": 3, "квітня": 4, "травня": 5, "червня": 6,
    "липня": 7, "серпня": 8, "вересня": 9, "жовтня": 10, "листопада": 11, "грудня": 12,
    "января": 1, "февраля": 2, "марта": 3, "апреля": 4, "мая": 5, "июня": 6,
    "июля": 7, "августа": 8, "сентября": 9, "октября": 10, "ноября": 11, "декабря": 12,
}
_UK_DATE_RE = re.compile(r"(\d{1,2})\s+(\w+)\s+(\d{4})(?:[,\s]+(\d{1,2}):(\d{2}))?", re.UNICODE)


def _parse_cyrillic_date(text: str) -> Optional[datetime]:
    if m := _UK_DATE_RE.search(text):
        month = _UK_MONTHS.get(m.group(2).lower())
        if month:
            hour = int(m.group(4)) if m.group(4) else 0
            minute = int(m.group(5)) if m.group(5) else 0
            return datetime(int(m.group(3)), month, int(m.group(1)), hour, minute)
    return None


def _title(ctx: ParseContext) -> Optional[str]:
    return ctx.ld.xpath_search("//headline", scalar=True) or ctx.meta.get("og:title")


def _authors(ctx: ParseContext) -> List[str]:
    return generic_author_parsing(strip_nodes_to_text(_AUTHOR(ctx.doc)))


def _date(ctx: ParseContext) -> Optional[datetime]:
    if pub_date := generic_date_parsing(ctx.ld.xpath_search("//datePublished", scalar=True)):
        return pub_date
    if nodes := _DATE(ctx.doc):
        pub_string = generic_nodes_to_text(nodes)[0]
        return _parse_cyrillic_date(pub_string)
    return None


_IMAGES = make_images(
    _PARAGRAPH,
    image_selector=XPath("//div[contains(@class, 'post_') or contains(@class, 'image')]/picture//img"),
    caption_selector=XPath(
        "./ancestor::div[contains(@class, 'post_') or contains(@class, 'image')]/div[@class='post_news_photo_captain']"
    ),
    author_selector=XPath(
        "./ancestor::div[contains(@class, 'post_') or contains(@class, 'image')]"
        "/div[contains(@class,'source') or contains(@class,'author')]"
    ),
    upper_boundary_selector=XPath("//article"),
    lower_boundary_selector=_TOPIC,
)

PRAVDA = PublisherSpec(
    key="ua.Pravda",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, subheadline=_SUBHEAD),
                authors=_authors,
                date=_date,
                title=_title,
                topics=topics_from_nodes(_TOPIC),
                images=_IMAGES,
            ),
        ),
    ),
)
