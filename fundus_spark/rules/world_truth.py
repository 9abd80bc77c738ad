"""World Truth rule spec — semantics per reference
``src/fundus/publishers/us/world_truth.py`` (single V1).
"""

from __future__ import annotations

from ..kernel import CSSSelector, Extractor, PublisherSpec, VersionSpec
from ._common import date_from_meta, free_access, make_body, title_from_meta

_PARAGRAPH = CSSSelector(".td-post-content > p")


WORLD_TRUTH = PublisherSpec(
    key="us.WorldTruth",
    versions=(
        VersionSpec(
            name="V1",
            extractors=(
                Extractor("body", make_body(_PARAGRAPH)),
                Extractor("publishing_date", date_from_meta("article:published_time")),
                Extractor("title", title_from_meta()),
                Extractor("free_access", free_access, default=False),
            ),
        ),
    ),
)
