"""The Nation rule spec — semantics per reference
``src/fundus/publishers/us/the_nation.py`` (V1 valid until 2023-07-22,
V2 after).

V1's step ordering matters: the malformed-HTML fixup runs at priority
1, the ``images`` attribute at priority 2 (BEFORE asides are dropped),
and the aside removal at priority 3 — body assembly then sees the
cleaned DOM. V2 drops the aside-removal function entirely.
"""

from __future__ import annotations

import datetime
import re
from typing import List

from ..kernel import (
    CSSSelector,
    Extractor,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    generic_topic_parsing,
    parse_html,
)
from ._common import (
    authors_from_meta,
    date_from_ld,
    free_access,
    make_body,
    make_images,
    std_extractors,
    title_from_meta,
    topics_from_meta,
)

_V1_SUMMARY = CSSSelector(".article-header-content > h2")
_V1_PARAGRAPH = CSSSelector(".article-body-inner > p")
_ASIDE = CSSSelector("aside")
_HTML_FIX = re.compile(r'name="sft_double_opt_sail"\s*value="yes"\s/>\s*</form>')
_UPPER = XPath("//h1[contains(@class,'title')]")
_V1_IMAGE = CSSSelector(".image img")
_V1_CAPTION = XPath("(./ancestor::aside[contains(@class, 'image')])[1]//p[@class='caption']/text()")
_V1_CREDIT = XPath(
    "(./ancestor::aside[contains(@class, 'image')])[1]//p[@class='caption']/span[@class='credits']"
)

_V2_SUMMARY = XPath(
    "//div[@class='article-header-content'] /h2 | //article//div[contains(@class, 'article-title')] /p"
)
_V2_PARAGRAPH = XPath("(//article | //div[@class='article-body-inner']) / p")
_V2_CAPTION = XPath("./ancestor::figure//figcaption/text()|./ancestor::figure//figcaption/p")


def _fix_malformed_html(ctx: ParseContext) -> None:
    if XPath("//div[contains(@id, 'cta-block')]")(ctx.doc):
        fixed_html = re.sub(_HTML_FIX, 'name="sft_double_opt_sail"value="yes"/></div></form>', ctx.html)
        ctx.doc = parse_html(fixed_html)


def _remove_aside(ctx: ParseContext) -> None:
    for aside in _ASIDE(ctx.doc):
        if (parent := aside.getparent()) is not None:
            parent.remove(aside)


def _topics_v2(ctx: ParseContext) -> List[str]:
    if topics := generic_topic_parsing(ctx.meta.get("keywords")):
        return topics
    return generic_topic_parsing(ctx.meta.get("sailthru.tags"))


THE_NATION = PublisherSpec(
    key="us.TheNation",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2023, 7, 22),
            extractors=(
                Extractor("_fix_malformed_html", _fix_malformed_html, kind="function", priority=1),
                Extractor(
                    "images",
                    make_images(
                        _V1_PARAGRAPH,
                        upper_boundary_selector=_UPPER,
                        image_selector=_V1_IMAGE,
                        caption_selector=_V1_CAPTION,
                        author_selector=_V1_CREDIT,
                    ),
                    default=list,
                    priority=2,
                ),
                Extractor("_remove_aside", _remove_aside, kind="function", priority=3),
                Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY)),
                Extractor("authors", authors_from_meta("sailthru.author"), default=list),
                Extractor("publishing_date", date_from_ld()),
                Extractor("title", title_from_meta()),
                Extractor("topics", topics_from_meta(), default=list),
                Extractor("free_access", free_access, default=False),
            ),
        ),
        VersionSpec(
            name="V2",
            extractors=std_extractors(
                body=make_body(_V2_PARAGRAPH, summary=_V2_SUMMARY),
                authors=authors_from_meta("sailthru.author"),
                date=date_from_ld(),
                title=title_from_meta(),
                topics=_topics_v2,
                images=make_images(_V2_PARAGRAPH, upper_boundary_selector=_UPPER, caption_selector=_V2_CAPTION),
                extra=(Extractor("_fix_malformed_html", _fix_malformed_html, kind="function", priority=1),),
            ),
        ),
    ),
)
