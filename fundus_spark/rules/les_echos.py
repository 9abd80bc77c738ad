"""Les Echos rule spec — semantics per reference
``src/fundus/publishers/fr/les_echos.py`` (single V1).
"""

from __future__ import annotations

import datetime
import re
from typing import List, Optional

from ..kernel import (
    CSSSelector,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    generic_date_parsing,
    generic_nodes_to_text,
    normalize_whitespace,
)
from ._common import authors_from_ld, make_body, make_images, std_extractors

_SUMMARY = CSSSelector("article header > p")
_SUBHEAD = CSSSelector("article div.post-paywall > h3")
_BLOAT = r"^\s*Pour ne rien rater de l'actualité politique"
_PARAGRAPH = XPath(
    f'//article //div[contains(@class, "post-paywall")] /p[not(re:test(string(), "{_BLOAT}"))]'
)
_TOPIC = CSSSelector("header div.sc-108qdzy-3 div.sc-108qdzy-2 > div")
_CREDIT = re.compile(r"\((?P<credits>.*?)\)$")


def _title(ctx: ParseContext) -> Optional[str]:
    if title := ctx.meta.get("og:title"):
        return normalize_whitespace(title)
    return None


def _topics(ctx: ParseContext) -> List[str]:
    return [normalize_whitespace(text) for text in generic_nodes_to_text(_TOPIC(ctx.doc))]


def _publishing_date(ctx: ParseContext) -> Optional[datetime.datetime]:
    return generic_date_parsing(ctx.meta.get("article:published_time") or ctx.ld.bf_search("datePublished"))


LES_ECHOS = PublisherSpec(
    key="fr.LesEchos",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_ld(),
                date=_publishing_date,
                title=_title,
                topics=_topics,
                images=make_images(_PARAGRAPH, author_selector=_CREDIT),
            ),
        ),
    ),
)
