"""Kleine Zeitung rule spec — reference
``src/fundus/publishers/at/kleine_zeitung.py``.
"""

from __future__ import annotations

import re

from ..kernel import PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_ld,
    date_from_ld,
    make_body,
    make_images,
    std_extractors,
    title_from_ld_path,
    topics_from_meta,
)

_PARAGRAPH = XPath("//div[@class='w-full prose']/p")
_SUBHEAD = XPath("//div[@class='w-full prose']/h2")
_SUMMARY = XPath("//div[contains(@class, 'article-lead')]")


_IMAGES = make_images(
    _PARAGRAPH,
    image_selector=XPath("//figure//img|//div[contains(@class, 'not-prose') or @class=' mb-0']/img"),
    upper_boundary_selector=XPath("//h1"),
    caption_selector=XPath(
        "./ancestor::figure//*[self::figcaption or contains(@class, 'md:hidden')]|"
        "./ancestor::div[contains(@class, 'not-prose') or @class=' mb-0']//small"
    ),
    author_selector=re.compile(r"©(?P<credits>.*?)$"),
)

KLEINE_ZEITUNG = PublisherSpec(
    key="at.KleineZeitung",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_ld_path("NewsArticle/headline"),
                topics=topics_from_meta("keywords"),
                images=_IMAGES,
            ),
        ),
    ),
)
