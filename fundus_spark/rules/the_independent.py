"""The Independent rule spec — semantics per reference
``src/fundus/publishers/uk/the_independent.py`` (single V1).
"""

from __future__ import annotations

import re

from ..kernel import CSSSelector, PublisherSpec, VersionSpec
from ._common import (
    authors_from_ld,
    date_from_ld,
    make_body,
    make_images,
    std_extractors,
    title_from_ld,
    topics_from_meta,
)

_PARAGRAPH = CSSSelector("article div[id='main'] > p")
_IMAGE = CSSSelector("figure > div > img, div[data-gallery-length] > img")
_UPPER = CSSSelector("article")
_CREDIT = re.compile(r"(?P<credits>(\([^)]*\)\s?)+$)")


THE_INDEPENDENT = PublisherSpec(
    key="uk.TheIndependent",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_ld(),
                topics=topics_from_meta(),
                images=make_images(
                    _PARAGRAPH, image_selector=_IMAGE, upper_boundary_selector=_UPPER, author_selector=_CREDIT
                ),
            ),
        ),
    ),
)
