"""Tokyo Shimbun / Chunichi Shimbun rule specs — reference
``src/fundus/publishers/jp/tokyo_chunichi_shimbun.py`` (one shared
parser behind both mastheads).
"""

from __future__ import annotations

import re
from typing import List

from ..kernel import CSSSelector, ParseContext, PublisherSpec, VersionSpec, XPath, generic_topic_parsing
from ._common import date_from_ld, make_body, make_images, std_extractors, title_from_ld

_PARAGRAPH = XPath("//main//div[@class='block' and not(descendant::div or descendant::h2)]")
_SUBHEAD = XPath("//main//div[@class='block']//h2")

_AUTHOR_BLOAT = re.compile(r"記者")
_TOPIC_BLOAT = re.compile(r"話題・|話題")


def _authors(ctx: ParseContext) -> List[str]:
    from ..kernel import generic_author_parsing

    return generic_author_parsing(ctx.ld.bf_search("author"), result_filter=_AUTHOR_BLOAT)


def _topics(ctx: ParseContext) -> List[str]:
    if topics := generic_topic_parsing(ctx.ld.bf_search("articleSection"), result_filter=_TOPIC_BLOAT):
        return [topic for topic in topics if "ニュース" not in topic]
    return []


_IMAGES = make_images(
    _PARAGRAPH,
    image_selector=CSSSelector("main div.image img, main div.thumb img"),
    caption_selector=XPath(
        "./ancestor::div[@class='wrap']//p[@class='caption'] | "
        "./ancestor::div[@class='thumb']//p[@class='thumb-caption']"
    ),
    author_selector=re.compile(r"（(?P<credits>[^）]*?)(撮影)?）\s*$"),
    relative_urls=True,
)

_EXTRACTORS = std_extractors(
    body=make_body(_PARAGRAPH, subheadline=_SUBHEAD),
    authors=_authors,
    date=date_from_ld(),
    title=title_from_ld("headline"),
    topics=_topics,
    images=_IMAGES,
)

TOKYO_SHIMBUN = PublisherSpec(
    key="jp.TokyoShimbun",
    versions=(VersionSpec(name="V1", extractors=_EXTRACTORS),),
)

CHUNICHI_SHIMBUN = PublisherSpec(
    key="jp.ChunichiShimbun",
    versions=(VersionSpec(name="V1", extractors=_EXTRACTORS),),
)
