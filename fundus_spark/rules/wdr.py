"""WDR rule spec — semantics per reference
``src/fundus/publishers/de/wdr.py`` (single V1).
"""

from __future__ import annotations

import re

from ..kernel import PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_meta,
    date_from_ld,
    make_body,
    make_images,
    std_extractors,
    title_from_meta,
    topics_from_meta,
)

_PARAGRAPH = XPath(
    "//article//p[starts-with(@class,'text') and not(position()=last())  and not(contains(text(), 'Quelle'))]"
)
_SUMMARY = XPath("//article//p[starts-with(@class,'einleitung')]")
_SUBHEAD = XPath("//article//h2[@class='subtitle small']")
_IMAGE = XPath("//article//picture[not(@data-resp-img-id='LinklistenteaserImageSectionZModA')]//img[@class='img']")
_UPPER = XPath("//div[@class='segment' or @class='section sectionArticle']")
_LOWER = XPath("//div[@class='shareCon']")
_ALT = XPath("./@title")
_CREDIT = re.compile(r"(?i)\|\s*bildquelle:(?P<credits>.+)")
_CAPTION = XPath("./ancestor::div[@class='media mediaA']//p[@class='infotext']")


WDR = PublisherSpec(
    key="de.WDR",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_meta("Author"),
                date=date_from_ld(),
                title=title_from_meta(),
                topics=topics_from_meta("Keywords"),
                images=make_images(
                    _PARAGRAPH,
                    image_selector=_IMAGE,
                    upper_boundary_selector=_UPPER,
                    lower_boundary_selector=_LOWER,
                    alt_selector=_ALT,
                    author_selector=_CREDIT,
                    relative_urls=True,
                    caption_selector=_CAPTION,
                ),
            ),
        ),
    ),
)
