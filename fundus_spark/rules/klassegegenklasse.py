"""Klasse Gegen Klasse rule spec — semantics per reference
``src/fundus/publishers/de/klassegegenklasse.py`` (single V1).
"""

from __future__ import annotations

import datetime
import re
from typing import List, Optional

from ..kernel import (
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    generic_author_parsing,
    generic_date_parsing,
    strip_nodes_to_text,
)
from ._common import make_body, make_images, std_extractors, title_from_meta, topics_from_nodes

_PARAGRAPH = XPath(
    "//div[@class='singleContent ']/p[not((not(text()) and em) or re:test(string(.), '^Zum Weiterlesen:'))]"
    " | //ol[@class='footnotesList']/li"
)
_SUMMARY = XPath("//p[@class='singleHeader-excerpt']")
_SUBHEAD = XPath("//div[@class='singleContent ']/h2")
_DATE = XPath("(//div[@class='metaInfoDateTime']/span)[1]")
_AUTHOR = XPath("//ul[@class='metaInfoAuthorList']//li")
_TOPIC = XPath("//ul[@class='singleTagList']//li")
_CREDIT = re.compile(r"(?i)(foto|quelle|bild):\s*(?P<credits>.+)")


def _authors(ctx: ParseContext) -> List[str]:
    return generic_author_parsing(strip_nodes_to_text(_AUTHOR(ctx.doc)))


def _publishing_date(ctx: ParseContext) -> Optional[datetime.datetime]:
    return generic_date_parsing(strip_nodes_to_text(_DATE(ctx.doc)))


KLASSE_GEGEN_KLASSE = PublisherSpec(
    key="de.KlasseGegenKlasse",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=_authors,
                date=_publishing_date,
                title=title_from_meta(),
                topics=topics_from_nodes(_TOPIC),
                images=make_images(_PARAGRAPH, author_selector=_CREDIT),
            ),
        ),
    ),
)
