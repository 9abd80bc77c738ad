"""Reuters rule spec — semantics per reference
``src/fundus/publishers/us/reuters.py:16-83`` (V1 valid until
2024-01-01, V1_1 after). Exercises a priority-1 DOM drop_tree mutation.
"""

from __future__ import annotations

import datetime
from typing import List, Optional

from ..kernel import Extractor, ParseContext, PublisherSpec, VersionSpec, XPath, generic_topic_parsing
from ._common import authors_from_meta, date_from_ld_path, free_access, make_body, title_from_ld_path

_V1_PARAGRAPH = XPath("(//p[starts-with(@data-testid, 'paragraph')])[position() > 1]")
_V1_SUMMARY = XPath("(//p[starts-with(@data-testid, 'paragraph')])[1]")
_SUBHEAD = XPath("//div[contains(@class, 'article-body')] /h2[@data-testid='Heading']")

_V11_PARAGRAPH = XPath("(//div[starts-with(@data-testid, 'paragraph')])[position() > 1]")
_V11_SUMMARY = XPath("(//div[starts-with(@data-testid, 'paragraph')])[1]")
_V11_NEW_TAB_SPAN = XPath(
    "//div[starts-with(@data-testid, 'paragraph')] //span[contains(text(), 'opens new tab')]"
)


def _topics(ctx: ParseContext) -> List[str]:
    topics: List[Optional[str]] = [
        ctx.meta.get("article:section"),
        ctx.meta.get("analyticsAttributes.topicChannel"),
        ctx.meta.get("analyticsAttributes.topicSubChannel"),
    ]
    topics.extend(generic_topic_parsing(ctx.meta.get("DCSext.ChannelList"), delimiter=";"))
    return list(dict.fromkeys(topic for topic in topics if topic))


def _drop_new_tab_spans(ctx: ParseContext) -> None:
    """drop_tree: remove the span subtree, preserving its tail on the
    preceding sibling / parent text (lxml drop_tree semantics)."""
    for span in _V11_NEW_TAB_SPAN(ctx.doc):
        parent = span.getparent()
        if parent is None:
            continue
        idx = parent.index(span)
        tail = span.tail or ""
        if tail:
            if idx > 0:
                prev = parent.children[idx - 1]
                prev.tail = (prev.tail or "") + tail
            else:
                parent.text = (parent.text or "") + tail
        parent.remove(span)


_COMMON = [
    Extractor("authors", authors_from_meta("article:author"), default=list),
    Extractor("publishing_date", date_from_ld_path("NewsArticle/datePublished")),
    Extractor("title", title_from_ld_path("NewsArticle/headline")),
    Extractor("topics", _topics, default=list),
    Extractor("free_access", free_access, default=False),
]

REUTERS = PublisherSpec(
    key="us.Reuters",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2024, 1, 1),
            extractors=tuple(
                [Extractor("body", make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_SUBHEAD))] + _COMMON
            ),
        ),
        VersionSpec(
            name="V1_1",
            extractors=tuple(
                [
                    Extractor("_remove_new_tab_span", _drop_new_tab_spans, kind="function", priority=1),
                    Extractor("body", make_body(_V11_PARAGRAPH, summary=_V11_SUMMARY, subheadline=_SUBHEAD)),
                ]
                + _COMMON
            ),
        ),
    ),
)
