"""netzpolitik.org rule spec — semantics per reference
``src/fundus/publishers/de/netzpolitik_org.py`` (single V1).
"""

from __future__ import annotations

from typing import List, Optional

from ..kernel import (
    CSSSelector,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    generic_nodes_to_text,
    generic_topic_parsing,
    parse_title_from_root,
)
from ._common import authors_from_nodes, date_from_meta, make_body, make_images, std_extractors

_PARAGRAPH = CSSSelector("div.entry-content p")
_SUMMARY = CSSSelector("div.entry-excerpt > p")
_SUBHEAD = CSSSelector("div.entry-content > h3")
_AUTHOR = CSSSelector("span > a[rel='author'], .np-intro-author-name-list a")
_TOPIC = CSSSelector("div.entry-footer__tags li, .wp-block-post-terms a")
_BLOAT_TOPICS = {"Netzpolitischer Wochenrückblick"}
_IMAGE = XPath("//figure//img[not(contains(@class, 'author-avatars'))]")
_CAPTION = XPath("./ancestor::figure//figcaption/text()")
_CREDIT = XPath("./ancestor::figure//figcaption/span")


def _title(ctx: ParseContext) -> Optional[str]:
    return ctx.meta.get("og:title") or parse_title_from_root(ctx.doc)


def _topics(ctx: ParseContext) -> List[str]:
    return generic_topic_parsing(
        generic_nodes_to_text(_TOPIC(ctx.doc), normalize=True), result_filter=_BLOAT_TOPICS
    )


NETZPOLITIK_ORG = PublisherSpec(
    key="de.NetzpolitikOrg",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_nodes(_AUTHOR),
                date=date_from_meta("article:published_time"),
                title=_title,
                topics=_topics,
                images=make_images(
                    _PARAGRAPH, image_selector=_IMAGE, caption_selector=_CAPTION, author_selector=_CREDIT
                ),
            ),
        ),
    ),
)
