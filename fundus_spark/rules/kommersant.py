"""Kommersant rule spec — reference
``src/fundus/publishers/ru/kommersant.py``.
"""

from __future__ import annotations

import re

from ..kernel import PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_nodes,
    date_from_ld,
    make_body,
    make_images,
    std_extractors,
    title_from_ld,
    topics_from_meta,
)

_SUMMARY = XPath("//header/h2")
_PARAGRAPH = XPath(
    "//div[contains(@class, 'article_text_wrapper')]/p[not(contains(@class, 'document_authors') or (not(text()) and b))]"
)
_AUTHOR = XPath("//p[@class='doc__text document_authors']")


_IMAGES = make_images(
    _PARAGRAPH,
    upper_boundary_selector=XPath("//header/h1"),
    image_selector=XPath("//figure//img[not(contains(@class, 'fallback'))]"),
    caption_selector=XPath("./ancestor::figure//figcaption/p"),
    author_selector=re.compile(r"(?i)Фото:(?P<credits>.+)"),
)

KOMMERSANT = PublisherSpec(
    key="ru.Kommersant",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY),
                authors=authors_from_nodes(_AUTHOR),
                date=date_from_ld(),
                title=title_from_ld("headline"),
                topics=topics_from_meta("keywords"),
                images=_IMAGES,
            ),
        ),
    ),
)
