"""ORF rule spec — semantics per reference
``src/fundus/publishers/at/orf.py`` (single V1).
"""

from __future__ import annotations

from ..kernel import CSSSelector, Extractor, PublisherSpec, VersionSpec
from ._common import authors_from_ld, date_from_ld, free_access, make_body, make_images, title_from_meta

_PARAGRAPH = CSSSelector("div.story-story > p:not(.caption.tvthek.stripe-credits)")
_SUMMARY = CSSSelector("div.story-lead > p")
_SUBHEAD = CSSSelector("div.story-story > h2")


ORF = PublisherSpec(
    key="at.ORF",
    versions=(
        VersionSpec(
            name="V1",
            extractors=(
                Extractor("body", make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD)),
                Extractor("authors", authors_from_ld(), default=list),
                Extractor("publishing_date", date_from_ld()),
                Extractor("title", title_from_meta()),
                Extractor("images", make_images(_PARAGRAPH), default=list),
                Extractor("free_access", free_access, default=False),
            ),
        ),
    ),
)
