"""Público rule spec — semantics per reference
``src/fundus/publishers/es/publico.py`` (single V1).


Round 2: full golden parity — the former image-position delta was a
missing libxml2 behavior (implied <body>+<p> on >=1000-char whitespace
runs / noscript-in-head nesting), now reproduced in kernel/dom.py.
"""

from __future__ import annotations

from typing import List

from ..kernel import ParseContext, PublisherSpec, VersionSpec, XPath, generic_topic_parsing
from ._common import authors_from_ld, date_from_ld, make_body, make_images, std_extractors, title_from_meta

_PARAGRAPH = XPath(
    "//div[contains(@class, 'body-modules w-full')]//p[not(ancestor::div[contains(@class, 'related-intext')])]"
)
_SUBHEAD = XPath("//div[contains(@class, 'body-modules w-full')]//h2[contains(@class, 'highlighted')]")
_SUMMARY = XPath(
    "//div[contains(@class, 'text-base') and contains(@class, 'desktop:text-xl')]//p | "
    "//div[contains(@class, 'desktop:flex')]//p[contains(@class, 'desktop:text-lg')]"
)
_IMAGE = XPath("//figure[contains(@class, 'image-container')]//img")
_CAPTION = XPath("./ancestor::figure//figcaption/span")
_CREDIT = XPath("./ancestor::figure//figcaption/strong")


def _topics(ctx: ParseContext) -> List[str]:
    return [topic.split("/")[-1] for topic in generic_topic_parsing(ctx.meta.get("keywords"))]


PUBLICO = PublisherSpec(
    key="es.Publico",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_meta(),
                topics=_topics,
                images=make_images(
                    _PARAGRAPH,
                    image_selector=_IMAGE,
                    caption_selector=_CAPTION,
                    author_selector=_CREDIT,
                    relative_urls=True,
                ),
            ),
        ),
    ),
)
