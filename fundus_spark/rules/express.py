"""Daily Express rule spec — semantics per reference
``src/fundus/publishers/uk/express.py`` (single V1).
"""

from __future__ import annotations

import re

from ..kernel import CSSSelector, PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_meta,
    date_from_meta,
    make_body,
    make_images,
    std_extractors,
    title_from_meta,
    topics_from_meta,
)

_SUMMARY = CSSSelector("article > header > h3")
_SUBHEAD = CSSSelector("div.live-events h3")
_PARAGRAPH = CSSSelector(
    "article div.text-description:not(.dont-miss) > p, div.live-events div.live-events__entry-text > p"
)
_UPPER = CSSSelector("div[role=main] article")
_IMAGE = CSSSelector("div.photo img")
_CAPTION = XPath("./ancestor::div[contains(@class, 'photo')]/span[@class='newsCaption']/text()")
_CREDIT = XPath("./ancestor::div[contains(@class, 'photo')]/span[@class='newsCaption']/span[@class='caption']")
_SIZE = re.compile(r"/(?P<width>[0-9]+)x(?P<height>[0-9]+)?/")


EXPRESS = PublisherSpec(
    key="uk.Express",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_meta("author"),
                date=date_from_meta("article:published_time"),
                title=title_from_meta(),
                topics=topics_from_meta("article:tag"),
                images=make_images(
                    _PARAGRAPH,
                    upper_boundary_selector=_UPPER,
                    image_selector=_IMAGE,
                    caption_selector=_CAPTION,
                    author_selector=_CREDIT,
                    size_pattern=_SIZE,
                ),
            ),
        ),
    ),
)
