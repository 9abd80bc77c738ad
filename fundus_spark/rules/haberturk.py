"""Habertürk rule spec — reference
``src/fundus/publishers/tr/haberturk.py`` (unvalidated ``description``
extra attribute; date falls back from LD to meta).
"""

from __future__ import annotations

import datetime
from typing import Optional

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath, generic_date_parsing
from ._common import authors_from_ld, make_body, make_images, std_extractors, title_from_meta, topics_from_ld

_SUMMARY = XPath("//article//h2[preceding-sibling::h1]")
_PARAGRAPH = CSSSelector("article p")
_SUBHEAD = XPath("//article//h2[not(preceding-sibling::h1)]")


def _date(ctx: ParseContext) -> Optional[datetime.datetime]:
    return generic_date_parsing(ctx.ld.bf_search("datePublished") or ctx.meta.get("datePublished"))


_IMAGES = make_images(
    _PARAGRAPH,
    upper_boundary_selector=CSSSelector("article"),
    image_selector=CSSSelector("img[data-zoomable]"),
)

HABERTURK = PublisherSpec(
    key="tr.Haberturk",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_ld(),
                date=_date,
                title=title_from_meta("og:title"),
                topics=topics_from_ld("keywords"),
                images=_IMAGES,
                extra=(Extractor("description", title_from_meta("og:description"), validate=False),),
            ),
        ),
    ),
)
