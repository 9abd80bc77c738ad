"""Shared PostMedia multi-tenant rule base — semantics per reference
``src/fundus/publishers/shared/postmedia.py:19-86`` (the parser behind
the 8-publisher Canadian PostMedia network: National Post V1_1, Ottawa
Citizen, Financial Post, The Province, Canada.com, ...).

Tenants override the body selectors / bloat-topic set exactly like the
reference's subclassing (``publishers/ca/*.py``); everything else is
the shared spec.
"""

from __future__ import annotations

import re
from typing import Any, Callable, Dict, FrozenSet, List, Optional

from ..kernel import CSSSelector, ParseContext, XPath
from ._common import (
    authors_from_ld,
    date_from_ld,
    make_body,
    make_images,
    std_extractors,
    title_from_meta,
    topics_from_ld,
)

PM_PARAGRAPH = XPath("//div[@class='story-v2-content-element-inline']/p[text() and not(text()='National Post')]")
PM_SUBHEAD = XPath(
    "//div[@class='story-v2-content-element-inline']/h3[not(@class)] |"
    "//div[@class='story-v2-content-element-inline']/p/strong"
)
PM_SUMMARY = CSSSelector("article p.article-subtitle")

PM_BLOAT_TOPICS: FrozenSet[str] = frozenset(
    {
        "Curated",
        "News",
        "Newsroom daily",
        "story",
        "Canada",
        "World",
        "politics",
        "Business",
        "Travel",
        "Entertainment",
    }
)
PM_TOPIC_FILTER = re.compile(
    r"([0-9a-f]{8}-([0-9a-f]{4}-){3}[0-9a-f]{12}|NLP Entity Tokens|NLP Category|NP Comment|Category):?\s*"
)

PM_IMAGE_UPPER = XPath("(//div[@class='story-v2-block story-v2-article-container'])[1]")
PM_IMAGE_LOWER = XPath("//section[@class='article-content__share-group']")
PM_IMAGE_CAPTION = XPath("./ancestor::figure/figcaption/span[@class='caption']")
PM_IMAGE_CREDIT = XPath("./ancestor::figure/figcaption/span[@class='credit' or @class='distributor']")


def postmedia_extractors(
    paragraph=PM_PARAGRAPH,
    subheadline=PM_SUBHEAD,
    summary=PM_SUMMARY,
    extra_bloat: FrozenSet[str] = frozenset(),
    images: Optional[Callable[[ParseContext], List[Dict[str, Any]]]] = None,
    extra: tuple = (),
) -> tuple:
    if images is None:
        images = make_images(
            paragraph,
            upper_boundary_selector=PM_IMAGE_UPPER,
            lower_boundary_selector=PM_IMAGE_LOWER,
            caption_selector=PM_IMAGE_CAPTION,
            author_selector=PM_IMAGE_CREDIT,
        )
    return std_extractors(
        body=make_body(paragraph, summary=summary, subheadline=subheadline),
        authors=authors_from_ld(),
        date=date_from_ld(),
        title=title_from_meta("og:title"),
        topics=topics_from_ld(
            substitution_pattern=PM_TOPIC_FILTER,
            result_filter=set(PM_BLOAT_TOPICS | extra_bloat),
        ),
        images=images,
        extra=extra,
    )
