"""Hankook Ilbo rule spec — reference
``src/fundus/publishers/kr/hankook_ilbo.py`` (V1 until 2026-01-27;
V2 until 2026-06-01 rebuilds the article DOM from the page's
``contentHtml`` script JSON; V3 current).
"""

from __future__ import annotations

import datetime
import re
from typing import List

from ..kernel import (
    Extractor,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    generic_author_parsing,
    parse_html,
    transform_breaks_to_tag,
)
from ..kernel.jsonld import parse_json_text
from ._common import (
    authors_from_ld_path,
    date_from_ld,
    date_from_ld_path,
    date_from_meta,
    make_body,
    make_images,
    std_extractors,
    title_from_ld,
    title_from_meta,
    topics_from_meta,
)

_IMG_CREDIT = re.compile(r"(?!.+\.)(.+=|\.)?(?P<credits>.+?)( 제공| 기자)?$")

# --- V1 --------------------------------------------------------------
_V1_PARAGRAPH = XPath("//div[@itemprop='articleBody']/p[@class='editor-p']")
_V1_SUMMARY = XPath("//div[@itemprop='articleBody']/h2")
_V1_SUBHEAD = XPath("//div[@itemprop='articleBody']/h3")


_V1_IMAGES = make_images(
    _V1_PARAGRAPH,
    upper_boundary_selector=XPath("//div[@itemprop='articleBody']"),
    image_selector=XPath("//div[@itemprop='articleBody']//div[@class='img-box']//img"),
    caption_selector=XPath("./ancestor::div[@class='editor-img-box']//div[@class='caption']"),
    author_selector=_IMG_CREDIT,
)

# --- V2 --------------------------------------------------------------
_V2_PARAGRAPH = XPath("//div[@class='article-view']/p[@class='editor-p']")
_V2_SUMMARY = XPath("//div[@class='article-view']/h2")
_V2_SUBHEAD = XPath("//div[@class='article-view']/h3")
_V2_AUTHOR = XPath("//div[@class='article-view']//div[@class='writer']/span[@class='name']/strong")
_V2_CONTENT = XPath("string(//script[re:test(text(), 'contentHtml')])")
_V2_CONTENT_BLOAT = re.compile(r"\$\$.+?\$\$")
_BODY_SELECTOR = XPath("//body")


def _html_fragment(html_str: str):
    """Counterpart of ``lxml.html.fromstring`` for markup fragments:
    returns the single body child (or the body itself when the fragment
    parses to several top-level nodes)."""
    doc = parse_html(html_str)
    bodies = _BODY_SELECTOR(doc)
    if not bodies:
        return None
    body = bodies[0]
    children = body.children
    return children[0] if len(children) == 1 else body


def _parse_page_content_v2(ctx: ParseContext) -> None:
    if content_script := parse_json_text(_V2_CONTENT(ctx.doc)):
        ctx.ld.add(content_script, "page-data")

        content_html = (
            f"<div class='article-view'>"
            f"{ctx.ld.xpath_search('//page-data//contentHtml', scalar=True)}"
            f"</div>"
        )
        cleaned_content_html = re.sub(_V2_CONTENT_BLOAT, "", content_html)
        content_node = _html_fragment(cleaned_content_html)
        if content_node is None:
            return

        summary_html = f"<h2>{ctx.ld.xpath_search('//page-data//subTitle', scalar=True)}</h2>"
        summary_node = _html_fragment(summary_html)
        if summary_node is not None:
            content_node.insert(0, summary_node)
            transform_breaks_to_tag(summary_node, tag="h2", replace=True)

        doc_bodies = _BODY_SELECTOR(ctx.doc)
        if doc_bodies:
            doc_bodies[0].insert(0, content_node)


def _authors_v2(ctx: ParseContext) -> List[str]:
    return generic_author_parsing([node.text_content() for node in _V2_AUTHOR(ctx.doc)])


_V2_IMAGES = make_images(
    _V2_PARAGRAPH,
    upper_boundary_selector=XPath("//div[@class='article-view']"),
    image_selector=XPath("//div[@class='article-view']//img"),
    caption_selector=XPath("./ancestor::div[@class='editor-img-box']//div[@class='caption']"),
    author_selector=_IMG_CREDIT,
)

# --- V3 --------------------------------------------------------------
_V3_PARAGRAPH = XPath(
    "//div[@class='article-view']/p[normalize-space()] |//div[@class='article-view']//blockquote"
)
_V3_SUBHEAD = XPath("//div[@class='article-view']/h3")
_V3_SUMMARY = XPath("//div[@class='article-view']/h2")


def _preprocess_summary_v3(ctx: ParseContext) -> None:
    for summary_node in _V3_SUMMARY(ctx.doc):
        transform_breaks_to_tag(summary_node, tag="h2", replace=True)


_V3_IMAGES = make_images(
    _V3_PARAGRAPH,
    upper_boundary_selector=XPath("//div[@class='article-view']"),
    image_selector=XPath("//div[@class='article-view']//div[@class='img-box']/img"),
    caption_selector=XPath("./ancestor::div[@class='editor-img-box']//div[@class='caption']"),
    author_selector=_IMG_CREDIT,
)

HANKOOK_ILBO = PublisherSpec(
    key="kr.HankookIlbo",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2026, 1, 27),
            extractors=std_extractors(
                body=make_body(_V1_PARAGRAPH, summary=_V1_SUMMARY, subheadline=_V1_SUBHEAD),
                authors=authors_from_ld_path("//NewsArticle/author/name"),
                date=date_from_ld(),
                title=title_from_ld("headline"),
                topics=topics_from_meta("news_keywords"),
                images=_V1_IMAGES,
            ),
        ),
        VersionSpec(
            name="V2",
            valid_until=datetime.date(2026, 6, 1),
            extractors=std_extractors(
                body=make_body(_V2_PARAGRAPH, summary=_V2_SUMMARY, subheadline=_V2_SUBHEAD),
                authors=_authors_v2,
                date=date_from_ld_path("//page-data//detail/deployDt"),
                title=title_from_meta("headline"),
                topics=topics_from_meta("news_keywords"),
                images=_V2_IMAGES,
                extra=(Extractor("_parse_page_content", _parse_page_content_v2, kind="function", priority=1),),
            ),
        ),
        VersionSpec(
            name="V3",
            extractors=std_extractors(
                body=make_body(_V3_PARAGRAPH, summary=_V3_SUMMARY, subheadline=_V3_SUBHEAD),
                authors=lambda ctx: generic_author_parsing(ctx.meta.get("article:author")),
                date=date_from_meta("article:published_time"),
                title=title_from_meta("headline"),
                topics=topics_from_meta("article:tag"),
                images=_V3_IMAGES,
                extra=(Extractor("_preprocess_summary_nodes", _preprocess_summary_v3, kind="function", priority=1),),
            ),
        ),
    ),
)
