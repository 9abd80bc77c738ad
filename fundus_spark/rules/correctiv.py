"""Correctiv rule spec — semantics per reference
``src/fundus/publishers/de/correctiv.py`` (single V1; image credits
tried against a list of regex patterns in order).
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
    title_from_ld_path,
    topics_from_meta,
)

_SUMMARY = XPath("//p[@class='detail__excerpt']")
_SUBHEAD = XPath("//div[@class='detail__content']/*[self::h3 or self::h2]")
_PARAGRAPH = XPath("//div[@class='detail__content']/p[string-length(text())>1 or span]")
_AUTHOR = XPath("//p[@class='detail__authors']/a")
_IMAGE = XPath("//figure[@id]/img | //figure[@class='figure']/picture/img")
_CREDITS = [
    re.compile(
        r"(?i)(?<=\. )((foto|credit image|bild|image|symbolbild):|©)?\s*(?P<credits>([^.:]|CORRECTIV\.|.com)+?)([.])?$"
    ),
    re.compile(r"\((.+:)?(?P<credits>[^):]+?)\)$"),
    re.compile(r"/(?P<credits>.+)$"),
]


CORRECTIV = PublisherSpec(
    key="de.Correctiv",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_nodes(_AUTHOR),
                date=date_from_ld(),
                title=title_from_ld_path("//NewsArticle/headline"),
                topics=topics_from_meta(),
                images=make_images(_PARAGRAPH, image_selector=_IMAGE, author_selector=_CREDITS),
            ),
        ),
    ),
)
