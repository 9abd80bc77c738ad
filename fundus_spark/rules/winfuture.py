"""WinFuture rule spec — semantics per reference
``src/fundus/publishers/de/winfuture.py`` (single V1; the body is
re-segmented by serializing the doc, rewriting ``<br><br>`` runs into
paragraph tags with the reference's regex cascade, and re-parsing).
"""

from __future__ import annotations

import re
from typing import Any, Dict, Optional

from ..kernel import ParseContext, PublisherSpec, VersionSpec, XPath, assemble_body, parse_html, serialize_html
from ._common import authors_from_ld, date_from_meta, make_images, std_extractors, title_from_meta, topics_from_meta

_PARAGRAPH = XPath("//div[@id='news_content']/p")
_SUMMARY = XPath("//div[@id='news_content']//div[@class='teaser_text']")
_SUBHEAD = XPath("//div[@id='news_content']/h2")
_IMAGE = XPath("//div[@class='primary_content']//img[@class='teaser_img' or @class='photo']")
_UPPER = XPath("//div[@class='primary_content']")
_LOWER = XPath("//div[@class='mb20 more_links']")
_CAPTION = XPath("./ancestor::span[contains(@class,'hmedia')]//a")
_CREDIT = XPath("./ancestor::div[@class='teaser_img_container']//div[@class='teaser_img_source']")


def _body(ctx: ParseContext) -> Optional[Dict[str, Any]]:
    html_as_string = serialize_html(ctx.doc)
    # regex cascade verbatim from the reference (winfuture.py:31-43)
    html_as_string = re.sub(r"(<br>){2}\n<h2", "<h2", html_as_string)
    html_as_string = re.sub(r"(<br>){2}\n<(div|script)", "</p>\n<div", html_as_string)
    html_as_string = re.sub(r"(<br>){2}", "</p>\n<p>", html_as_string)
    html_as_string = re.sub(r"(</h2>)", "</h2>\n<p>", html_as_string)
    html_as_string = re.sub(r"(?<![\W>])\n(?=<h2>)", "</p>\n", html_as_string)
    html_as_string = re.sub(r"(?<=<br>)\n(?!([<\W]))", "\n<p>", html_as_string)
    html_as_string = re.sub(r"(?<=(ipt|div)>)\n(?![\W<])", "\n<p>", html_as_string)
    html_as_string = re.sub(r"(?<![\W>])\n(?=<[a-z0-9=_'\"]*>)", "</p>\n", html_as_string)
    doc = parse_html(html_as_string)
    return assemble_body(
        doc,
        paragraph_selector=_PARAGRAPH,
        summary_selector=_SUMMARY,
        subheadline_selector=_SUBHEAD,
    )


WINFUTURE = PublisherSpec(
    key="de.WinFuture",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=_body,
                authors=authors_from_ld(),
                date=date_from_meta("article:published_time"),
                title=title_from_meta(),
                topics=topics_from_meta("article:tag"),
                images=make_images(
                    _PARAGRAPH,
                    image_selector=_IMAGE,
                    upper_boundary_selector=_UPPER,
                    lower_boundary_selector=_LOWER,
                    caption_selector=_CAPTION,
                    author_selector=_CREDIT,
                ),
            ),
        ),
    ),
)
