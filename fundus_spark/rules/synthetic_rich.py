"""Synthetic RICH rule (tool key ``rich``) — NOT a reference
publisher. Exists to oracle-gate three kernel paths end-to-end through
a non-generic rule (VERDICT r2 §Next-round #8): JSON-LD
``datePublished`` via ``xpath_search``, a priority-1 ``<br>`` rewrap
(``transform_breaks_to_tag`` with ``replace=True``, the same utility
the reference's rewrap publishers call, utility.py:315-377), and
srcset-driven image extraction. The matching synthetic documents come
from ``sources/rich_html.py``; the DuckDB oracle is
``_RICH_SQL`` in ``__spark_entry__.py``."""

from __future__ import annotations

from typing import Optional

from ..kernel import CSSSelector, Extractor, ParseContext, PublisherSpec, VersionSpec, XPath, transform_breaks_to_tag
from ._common import authors_from_ld_path, date_from_ld_path, make_body, make_images

_PARAGRAPH = XPath("//div[@class='article-body']//p[text()]")
_IMAGE = XPath("//div[@class='article-media']//img")
_BR_TEXT = CSSSelector("div.br-text")


def _preprocess(ctx: ParseContext) -> None:
    for node in _BR_TEXT(ctx.doc):
        transform_breaks_to_tag(node, tag="p", replace=True)


def _title(ctx: ParseContext) -> Optional[str]:
    title = ctx.ld.xpath_search("//NewsArticle/headline", scalar=True)
    return str(title) if title else None


RICH = PublisherSpec(
    key="rich",
    versions=(
        VersionSpec(
            name="V1",
            extractors=(
                Extractor("_preprocess", _preprocess, kind="function", priority=1),
                Extractor("body", make_body(_PARAGRAPH)),
                Extractor("title", _title),
                Extractor("authors", authors_from_ld_path("//NewsArticle/author"), default=list),
                Extractor("publishing_date", date_from_ld_path("//NewsArticle/datePublished")),
                Extractor("images", make_images(_PARAGRAPH, image_selector=_IMAGE), default=list),
            ),
        ),
    ),
)
