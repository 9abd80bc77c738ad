"""Times of India rule spec — reference
``src/fundus/publishers/ind/times_of_india.py`` (both versions rebuild
the body from a regex-rewritten serialization of the document — ToI
marks paragraph breaks with ``<br>`` / marker spans instead of ``<p>``).
"""

from __future__ import annotations

import datetime
import re
from typing import Any, Dict, List, Optional

from ..kernel import (
    CSSSelector,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    apply_substitution_pattern_over_list,
    assemble_body,
    generic_author_parsing,
    generic_topic_parsing,
    parse_html,
    serialize_html,
)
from ._common import date_from_ld, make_images, std_extractors

_V1_SUBHEAD = XPath(
    "(//div[@class='_s30J clearfix  '])[1]/div/b |"
    "(//div[@class='_s30J clearfix  '])[1]/div/h2 |"
    "(//div[@class='_s30J clearfix  '])[1]//span[contains(class, strong)]"
)
_V1_PARAGRAPH = XPath("(//div[@class='_s30J clearfix  '])[1]/p[text()]")
_V1_SUMMARY = XPath("//div[@class='M1rHh undefined']")
_V1_IMAGE = CSSSelector("section.leadmedia img")
_V1_IMG_CREDIT = re.compile(r"\((?P<credits>.*?)\)$")

_AUTHOR_BLOAT = re.compile(r"(TOI .*|TIMESOFINDIA.COM)")


def _body_v1(ctx: ParseContext) -> Optional[Dict[str, Any]]:
    html_as_string = serialize_html(ctx.doc)
    html_as_string = re.sub(r"(</div>)((\r\n|\r|\n)<br>)", "</div><p>", html_as_string)
    html_as_string = re.sub(r"</div>\s*</div>(?!<)", "</div></div><p>", html_as_string)
    html_as_string = re.sub(r"</div>\s*</div>\s*</div>(?!<)", "</div></div></div><p>", html_as_string)
    html_as_string = re.sub(r"<br>(\r\n|\r|\n)(:?<div)", "</p>", html_as_string)
    html_as_string = re.sub(r"(:?::before)(\r\n|\r|\n)", "<p>", html_as_string)
    html_as_string = re.sub(r"(\r\n|\r|\n)(:?::after)", "</p>", html_as_string)
    html_as_string = re.sub(r"<br>", "</p><p>", html_as_string)
    html_as_string = re.sub(
        r"<div class=\"_s30J clearfix  \">", "<div class=\"_s30J clearfix  \"><p class='intro'>", html_as_string
    )
    return assemble_body(
        parse_html(html_as_string),
        paragraph_selector=_V1_PARAGRAPH,
        summary_selector=_V1_SUMMARY,
        subheadline_selector=_V1_SUBHEAD,
    )


def _authors(ctx: ParseContext) -> List[str]:
    return apply_substitution_pattern_over_list(
        generic_author_parsing(ctx.ld.bf_search("author")), _AUTHOR_BLOAT
    )


def _title_v1(ctx: ParseContext) -> Optional[str]:
    if title := ctx.meta.get("og:title"):
        return re.sub(r"( - Times.*| \| (India.*|.*News))", "", title)
    return None


def _topics(ctx: ParseContext) -> List[str]:
    return [
        topic.title()
        for topic in generic_topic_parsing(ctx.meta.get("news_keywords"))
        if "News" not in topic.title()
    ]


def _images(paragraph, image_selector, author_pattern):
    return make_images(
        paragraph,
        upper_boundary_selector=CSSSelector("div.contentwrapper.clearfix"),
        lower_boundary_selector=CSSSelector("div.authorComment"),
        image_selector=image_selector,
        caption_selector=XPath("./ancestor::section[contains(@class, 'leadmedia')]//div[contains(@class, 'img_cptn')]"),
        author_selector=author_pattern,
    )


_V2_PARAGRAPH = XPath(
    "(//div[contains(@class,'ihgno')])[1]/p[text()] |(//div[contains(@class,'ihgno')])[1]//li[text()]"
)
_V2_SUBHEAD = XPath(
    "(//div[contains(@class,'ihgno')])[1]//*[self::h2 or self::h3 or (span[@class='strong'] and not(text()))]"
)
_V2_FIRST_ELEMENT = re.compile(
    r"<div class=\"(ihgno|UgCrb) clearfix {2}\">(<div class=\"(e9jwa|XYebw)\"><div class=\"vdo_embedd\">.*? </div></div>)?"
)
_V2_IMAGE = XPath("//div[contains(@class,'ihgno')]//img")
_V2_IMG_CREDIT = re.compile(r"(?i)photo credit:\s*(?P<credits>.*?)$")


def _body_v2(ctx: ParseContext) -> Optional[Dict[str, Any]]:
    html_as_string = serialize_html(ctx.doc)
    html_as_string = re.sub(
        r"<span class=\"id-r-component br\" data-pos=\"[0-9]*\"></span>", "</p><p>", html_as_string
    )
    html_as_string = re.sub(
        r"<div class=\"cdatainfo[A-z_ ]*id-r-component \" data-pos=\"[0-9]*\">(<h2>[^<]*</h2>)?</div>",
        r"</p>\1<p>",
        html_as_string,
    )
    html_as_string = re.sub(_V2_FIRST_ELEMENT, r"<div class=\"ihgno clearfix  \">\2<p>", html_as_string)
    html_as_string = re.sub(r"(?i)also read \| <a.*?</a>", "", html_as_string)
    html_as_string = re.sub(
        r"\.<div data-type=\"in_view\" class=\" {2}\">.*?</div></div></div>", ".", html_as_string
    )
    html_as_string = re.sub(r"<p></p>", "", html_as_string)
    return assemble_body(
        parse_html(html_as_string),
        paragraph_selector=_V2_PARAGRAPH,
        subheadline_selector=_V2_SUBHEAD,
    )


TIMES_OF_INDIA = PublisherSpec(
    key="ind.TimesOfIndia",
    versions=(
        VersionSpec(
            name="V1",
            valid_until=datetime.date(2026, 3, 28),
            extractors=std_extractors(
                body=_body_v1,
                authors=_authors,
                date=date_from_ld(),
                title=_title_v1,
                topics=_topics,
                images=_images(_V1_PARAGRAPH, _V1_IMAGE, _V1_IMG_CREDIT),
            ),
        ),
        VersionSpec(
            name="V2",
            extractors=std_extractors(
                body=_body_v2,
                authors=_authors,
                date=date_from_ld(),
                title=lambda ctx: ctx.ld.xpath_search("//NewsArticle/headline", scalar=True),
                topics=_topics,
                images=_images(_V2_PARAGRAPH, _V2_IMAGE, _V2_IMG_CREDIT),
            ),
        ),
    ),
)
