"""People's Daily (人民网) rule spec — reference
``src/fundus/publishers/cn/people.py`` (no free_access in goldens but
default applies; relative image URLs resolved against the stylesheet
link href).
"""

from __future__ import annotations

import re
from typing import List

from ..kernel import CSSSelector, ParseContext, PublisherSpec, VersionSpec, XPath, generic_author_parsing
from ._common import date_from_meta, make_body, make_images, std_extractors, title_from_root, topics_from_meta

_PARAGRAPH = CSSSelector("div.rm_txt_con > p")
_AUTHOR = CSSSelector("div.edit")
_AUTHOR_PATTERN = re.compile(r"：(.*)\)")


def _authors(ctx: ParseContext) -> List[str]:
    if (author_nodes := _AUTHOR(ctx.doc)) and len(author_nodes) == 1:
        if match := re.search(_AUTHOR_PATTERN, author_nodes.pop().text_content()):
            return generic_author_parsing(match.group(1), split_on=["、"])
    return []


_IMAGES = make_images(
    _PARAGRAPH,
    image_selector=XPath("//img"),
    upper_boundary_selector=XPath("//div[@class='layout route cf']"),
    relative_urls=XPath("string((//head//link[@rel='stylesheet'])[1]/@href)"),
)

PEOPLE = PublisherSpec(
    key="cn.People",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH),
                authors=_authors,
                date=date_from_meta("publishdate"),
                title=title_from_root,
                topics=topics_from_meta("keywords", delimiter=" "),
                images=_IMAGES,
            ),
        ),
    ),
)
