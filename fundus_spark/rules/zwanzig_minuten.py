"""20 Minuten rule spec — semantics per reference
``src/fundus/publishers/ch/zwanzig_minuten.py`` (V1 valid until
2025-10-05, V1_1 after).
"""

from __future__ import annotations

import datetime

from ..kernel import Extractor, PublisherSpec, VersionSpec, XPath
from ._common import authors_from_ld, date_from_ld, free_access, make_body, make_images, title_from_meta

_V1_SUMMARY = XPath("//div[@class='Article_elementLead__N3pGr']/p | (//div[@type='typeInfoboxSummary'])[1]//li")
_V1_SUBHEAD = XPath("//section[@class='Article_body__60Liu']//h2[contains(@class, 'crosshead')]")
_V1_PARAGRAPH = XPath("//div[@class='Article_elementTextblockarray__WNyan']/p")
_V1_CAPTION = XPath("./ancestor::figure//figcaption/span[@class='sc-d47814d6-2 bDLFoO']/p")
_V1_CREDIT = XPath("./ancestor::figure//figcaption/span[@class='sc-d47814d6-3 bmEwwn']")

_V11_SUMMARY = XPath("//div[@type='lead']/p | //div[@type='infobox'][1]//li")
_V11_PARAGRAPH = XPath("//section//p[@type='textBlockArray']")
_V11_SUBHEAD = XPath("//section//h2[@data-testid='Crosshead']")
_V11_CAPTION = XPath("./ancestor::figure//figcaption/span[@class='sc-b3c65b9d-2 drRlrY']")
_V11_CREDIT = XPath("./ancestor::figure//figcaption/span[@class='sc-b3c65b9d-3 eEeXhh']")

_UPPER = XPath("//article")


_COMMON = [
    Extractor("authors", authors_from_ld(), default=list),
    Extractor("publishing_date", date_from_ld()),
    Extractor("title", title_from_meta()),
    Extractor("free_access", free_access, default=False),
]

ZWANZIG_MINUTEN = PublisherSpec(
    key="ch.ZwanzigMinuten",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2025, 10, 5),
            extractors=tuple(
                [
                    Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD)),
                    Extractor(
                        "images",
                        make_images(
                            _V1_PARAGRAPH,
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
                    Extractor(
                        "images",
                        make_images(
                            _V11_PARAGRAPH,
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
