"""AP News rule spec — semantics per reference
``src/fundus/publishers/us/ap_news.py:19-86`` (V1 valid until
2023-07-10, V1_1 after), re-expressed as declarative extractors over
the from-scratch kernel.
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
    generic_author_parsing,
    normalize_whitespace,
)
from ._common import date_from_ld_path, free_access, make_body, make_images, title_from_ld_path, topics_from_meta

_V1_AUTHOR = XPath("//div[hasclass('CardHeadline')]/span/span[1]")
_V1_SUBHEAD = XPath("//div[@data-key = 'article']/h2[not(text()='___')]")
_V1_PARAGRAPH = XPath("//div[@data-key = 'article']/p")

_TOPIC_BLOAT = re.compile(r"state wire| news|^.{1}$", flags=re.IGNORECASE)

_V11_AUTHOR = XPath("//div[hasclass('Page-authors')]")
_V11_SUBHEAD = XPath("//div[contains(@class, 'RichTextStoryBody')] /h2[not(text()='___')]")
_V11_PARAGRAPH = XPath(
    "//div[contains(@class, 'RichTextStoryBody')] /p[not(preceding-sibling::*[1][self::h2 and text()='___'])]"
)
_V11_IMAGE = XPath("//*[self::figure or @class='CarouselSlide']//img")
_V11_CAPTION = XPath(
    "./ancestor::figure//figcaption | "
    "./ancestor::div[@class='CarouselSlide']//span[@class='CarouselSlide-infoDescription']"
)
_V11_UPPER = XPath("//div[@class='Page-content' or @class='Body']")
_V11_LOWER = XPath("//footer[hasclass('Page-footer')]")
_V11_IMG_CREDIT = re.compile(r"\s*\((?P<credits>.*)\)$")


def _authors(author_selector: XPath):
    def fn(ctx: ParseContext) -> List[str]:
        nodes = author_selector(ctx.doc)
        if not nodes:
            return generic_author_parsing(ctx.ld.xpath_search("NewsArticle/author"))
        author_string = normalize_whitespace(nodes[0].text_content())
        author_string = re.sub(r"^By ", "", author_string)
        return generic_author_parsing(author_string)

    return fn


_COMMON = [
    Extractor("publishing_date", date_from_ld_path("NewsArticle/datePublished")),
    Extractor("title", title_from_ld_path("NewsArticle/headline")),
    Extractor("topics", topics_from_meta(result_filter=_TOPIC_BLOAT), default=list),
    Extractor("free_access", free_access, default=False),
]

AP_NEWS = PublisherSpec(
    key="us.APNews",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2023, 7, 10),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, subheadline=_V1_SUBHEAD)),
                    Extractor("authors", _authors(_V1_AUTHOR), default=list),
                ]
                + _COMMON
            ),
        ),
        VersionSpec(
            name="V1_1",
            extractors=tuple(
                [
                    Extractor("body", make_body(_V11_PARAGRAPH, subheadline=_V11_SUBHEAD)),
                    Extractor("authors", _authors(_V11_AUTHOR), default=list),
                    Extractor(
                        "images",
                        make_images(
                            _V11_PARAGRAPH,
                            image_selector=_V11_IMAGE,
                            caption_selector=_V11_CAPTION,
                            upper_boundary_selector=_V11_UPPER,
                            lower_boundary_selector=_V11_LOWER,
                            author_selector=_V11_IMG_CREDIT,
                        ),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
    ),
)
