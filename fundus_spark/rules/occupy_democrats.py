"""Occupy Democrats rule spec — semantics per reference
``src/fundus/publishers/us/occupy_democrats.py`` (single V1).
"""

from __future__ import annotations

from typing import List

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, generic_topic_parsing
from ._common import authors_from_ld, date_from_meta, make_body, std_extractors, title_from_meta

_PARAGRAPH = CSSSelector("div[itemprop='articleBody']>p, div[itemprop='articleBody']>blockquote")


def _topics(ctx: ParseContext) -> List[str]:
    return generic_topic_parsing(ctx.ld.xpath_search("Article/keywords", scalar=True))


OCCUPY_DEMOCRATS = PublisherSpec(
    key="us.OccupyDemocrats",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH),
                authors=authors_from_ld("Person"),
                date=date_from_meta("article:published_time"),
                title=title_from_meta(),
                topics=_topics,
                extra=(Extractor("description", title_from_meta("description"), validate=False),),
            ),
        ),
    ),
)
