"""ABC (Spain) rule spec — semantics per reference
``src/fundus/publishers/es/abc.py`` (V1 valid until 2026-02-17,
V1_1 after).
"""

from __future__ import annotations

import datetime
from typing import List

from ..kernel import Extractor, ParseContext, PublisherSpec, VersionSpec, XPath
from ._common import authors_from_ld, date_from_ld, free_access, make_body, make_images, title_from_meta

_V1_PARAGRAPH = XPath("//div[@class='voc-d ']//p[@class='voc-p']")
_V1_SUBHEAD = XPath("//div[@class='voc-d ']//h3[@class='voc-d-c__s-title']")
_V1_SUMMARY = XPath("//div[@class='voc-info-container']/h2[text()]")
_V1_TOPICS = XPath("//div[@class='voc-wrapper']//ul[@class='voc-topics__list']/li[position() > 1]")
_V1_IMAGE = XPath("//figure//img[@class='voc-img']")
_V1_CAPTION = XPath(
    "./ancestor::div[contains(@class, 'voc-img-container')]//figcaption/span[contains(@class,'text')]"
)
_V1_CREDIT = XPath(
    "./ancestor::div[contains(@class, 'voc-img-container')]//figcaption/span[contains(@class,'author')]"
)

_V11_SUMMARY = XPath("//div[@class='v-a-inf-c ']/h2[text()]")
_V11_SUBHEAD = XPath("//div[@class='v-c-cmp v-n-mrg']//h3[@class='v-cmp-suh']")
_V11_PARAGRAPH = XPath("//main//article//p[@class='v-d-p' or @class='v-a-t']")
_V11_TOPICS = XPath("//div[@class='v-d-n']//ul[@class='v-tpc__u']/li[position() > 1]")
_V11_IMAGE = XPath("//figure/div/img[@class='v-a-img']")
_V11_CREDIT = XPath("./ancestor::div[contains(@class, 'v-a-img-c')]//figcaption/span[contains(@class,'v-fc__p')]")
_V11_CAPTION = XPath("./ancestor::div[contains(@class, 'v-a-img-c')]//figcaption/span[contains(@class,'v-fc__t')]")

_UPPER = XPath("//article")


def _topics(selector):
    def fn(ctx: ParseContext) -> List[str]:
        return [node.text_content().strip() for node in selector(ctx.doc)]

    return fn


_COMMON = [
    Extractor("publishing_date", date_from_ld()),
    Extractor("title", title_from_meta("title")),
    Extractor("authors", authors_from_ld(), default=list),
    Extractor("free_access", free_access, default=False),
]

ABC_ES = PublisherSpec(
    key="es.ABC",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2026, 2, 17),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                    Extractor("topics", _topics(_V1_TOPICS), default=list),
                    Extractor(
                        "images",
                        make_images(
                            _V1_PARAGRAPH,
                            image_selector=_V1_IMAGE,
                            upper_boundary_selector=_UPPER,
                            caption_selector=_V1_CAPTION,
                            author_selector=_V1_CREDIT,
                        ),
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
                    Extractor("topics", _topics(_V11_TOPICS), default=list),
                    Extractor(
                        "images",
                        make_images(
                            _V11_PARAGRAPH,
                            image_selector=_V11_IMAGE,
                            upper_boundary_selector=_UPPER,
                            caption_selector=_V11_CAPTION,
                            author_selector=_V11_CREDIT,
                        ),
                        default=list,
                    ),
                ]
                + _COMMON
            ),
        ),
    ),
)
