"""Metro rule spec — semantics per reference
``src/fundus/publishers/uk/metro.py`` (V1 valid until 2024-11-17,
V1_1 after; bloat paragraphs filtered by re:test).
"""

from __future__ import annotations

import datetime
import re

from ..kernel import CSSSelector, Extractor, PublisherSpec, VersionSpec, XPath
from ._common import authors_from_ld, date_from_ld, free_access, make_body, make_images, title_from_ld, topics_from_meta

_BLOAT = (
    r"^Got a story|"
    r"^Get in touch with our news team|"
    r"^Get in touch by emailing|"
    r"^If you’ve got a celebrity story|"
    r"^For more stories|"
    r"^Follow Metro|"
    r"^\s*MORE :|"
    r"^Share your views in the comments|"
    r"^Email gamecentral@metro.co.uk|"
    r"^To submit Inbox letters and Reader’s Features more easily|"
    r"^Do you have a story to share?"
)

_V1_SUMMARY = XPath("//article / div[@class='article-body'] / p[1]")
_V1_SUBHEAD = CSSSelector("article > div.article-body > h2")
_V1_PARAGRAPH = XPath(
    f"//article /div[@class='article-body'] /p[position()>1 and not(re:test(string(), '{_BLOAT}'))]"
)

_V11_SUMMARY = XPath("//article//div[@class='article__content__inner']/p[1]")
_V11_PARAGRAPH = XPath("//article//div[@class='article__content__inner']/p[not(@class) and position()>1]")
_V11_SUBHEAD = XPath("//article//div[@class='article__content__inner']/h2")

_UPPER = XPath("//article")
_CREDIT = re.compile(r"(?P<credits>\([^(]+\)$)")


_COMMON = [
    Extractor("publishing_date", date_from_ld()),
    Extractor("authors", authors_from_ld(), default=list),
    Extractor("title", title_from_ld()),
    Extractor("topics", topics_from_meta("article:tag"), default=list),
    Extractor("free_access", free_access, default=False),
]

METRO = PublisherSpec(
    key="uk.Metro",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2024, 11, 17),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                    Extractor(
                        "images",
                        make_images(_V1_PARAGRAPH, upper_boundary_selector=_UPPER, author_selector=_CREDIT),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
        VersionSpec(
            name="V1_1",
            extractors=tuple(
                [
                    Extractor("body", make_body(_V11_PARAGRAPH, summary=_V11_SUMMARY, subheadline=_V11_SUBHEAD)),
                    Extractor(
                        "images",
                        make_images(_V11_PARAGRAPH, upper_boundary_selector=_UPPER, author_selector=_CREDIT),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
    ),
)
