"""Daily Maverick rule spec — reference
``src/fundus/publishers/za/daily_maverick.py`` (V1 until 2025-11-19,
V1_1 after; topics exclude the article's own authors case-insensitively).
"""

from __future__ import annotations

import datetime
import re
from typing import Callable, List

from ..kernel import (
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    generic_author_parsing,
    generic_nodes_to_text,
    generic_topic_parsing,
)
from ._common import authors_from_ld, date_from_ld, make_body, make_images, std_extractors, title_from_ld

_V1_PARAGRAPH = XPath(
    "//div[contains(@class,' mode-content article-content ')]"
    "//p[(span or a and not(b)) or (text() and not(re:test(string(.), '^([A-Z ]+|Read more:.*)$')))]"
)
_V1_SUMMARY = XPath("(//h2[@class='first-paragraph'])[1]")
_V1_SUBHEAD = XPath(
    "//div[contains(@class,' mode-content article-content ')]//h4 | "
    "//div[contains(@class,' mode-content article-content ')]//p[re:test(string(.), '^[A-Z ]+$')]"
)

_V11_SUMMARY = XPath("//div[contains(@class,'top-summary')] /p")
_V11_PARAGRAPH = XPath(
    r"//div[contains(@class,'article-content')]"
    r"//p[text() and not(re:test(string(.), '^(By ([A-z-.]+\s*){1,4}|Read more:.*)$'))] |"
    r"//div[contains(@class,'article-content')] //ul /li"
)
_V11_SUBHEAD = XPath("//div[contains(@class,'article-content')] //h3")
_V11_AUTHOR = XPath(r"//div[contains(@class,'article-content')]//p[re:test(string(.), '^By ([A-z-]+\s*){1,4}$')]")


def _authors_v11(ctx: ParseContext) -> List[str]:
    if authors := _V11_AUTHOR(ctx.doc):
        return generic_author_parsing(generic_nodes_to_text(authors), substitution_pattern=re.compile(r"(?i)^by\s*"))
    return generic_author_parsing(ctx.ld.bf_search("author"))


def _topics(authors_fn: Callable[[ParseContext], List[str]]) -> Callable[[ParseContext], List[str]]:
    def fn(ctx: ParseContext) -> List[str]:
        return [
            t
            for t in generic_topic_parsing(ctx.ld.bf_search("keywords"))
            if t.lower() not in [a.lower() for a in authors_fn(ctx)]
        ]

    return fn


_V1_IMAGES = make_images(
    _V1_PARAGRAPH,
    upper_boundary_selector=XPath("//h1"),
    image_selector=XPath("//div[contains(@class, 'article-body')]/img | //div[contains(@class, 'wp-caption')]/img"),
    caption_selector=XPath(
        "./self::img[contains(@class, 'header-image')]/ancestor::div[contains(@class, 'article-body')]"
        "//div[@class='image-caption'] |"
        "./ancestor::div[contains(@class, 'wp-caption')]//p[@class='wp-caption-text']"
    ),
    author_selector=re.compile(r"(?i)\(photo:(?P<credits>.+)\)"),
)

_V11_IMAGES = make_images(
    _V11_PARAGRAPH,
    upper_boundary_selector=XPath("//h1"),
    image_selector=XPath("(//figure | //div[contains(@class, 'main-image')])//img"),
    caption_selector=XPath(
        "./ancestor::figure//figcaption |"
        "./ancestor::div[contains(@class, 'main-image')]//em[@class='image-caption']"
    ),
    author_selector=[
        re.compile(r"(?i)\(photo:(?P<credits>[^)]+)\)"),
        re.compile(r"(?P<credits>[A-Z /]+$)"),
    ],
)

DAILY_MAVERICK = PublisherSpec(
    key="za.DailyMaverick",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2025, 11, 19),
            extractors=std_extractors(
                body=make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_ld("headline"),
                topics=_topics(authors_from_ld()),
                images=_V1_IMAGES,
            ),
        ),
        VersionSpec(
            name="V1_1",
            extractors=std_extractors(
                body=make_body(_V11_PARAGRAPH, summary=_V11_SUMMARY, subheadline=_V11_SUBHEAD),
                authors=_authors_v11,
                date=date_from_ld(),
                title=title_from_ld("headline"),
                topics=_topics(_authors_v11),
                images=_V11_IMAGES,
            ),
        ),
    ),
)
