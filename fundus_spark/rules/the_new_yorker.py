"""The New Yorker rule spec — semantics per reference
``src/fundus/publishers/us/the_new_yorker.py`` (single V1; several
unvalidated extras).
"""

from __future__ import annotations

from ..kernel import CSSSelector, Extractor, PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_ld_path,
    date_from_ld_path,
    make_body,
    make_images,
    std_extractors,
    title_from_ld_path,
    title_from_meta,
    topics_from_meta,
)

_SUMMARY = XPath("//div[contains(@class, 'ContentHeaderDek')]")
_PARAGRAPH = CSSSelector("div.body__inner-container > p")

_IMAGE = XPath("//picture//img")
_CAPTION = XPath(
    "./ancestor::*[self::figure or self::header]"
    "//*[(self::span and contains(@class, 'caption__text')) or (self::div and contains(@class, '__caption'))]"
)
_CREDIT = XPath(
    "(./ancestor::*[self::figure or self::header]"
    "//*[(self::span and contains(@class, 'caption__credit')) or (self::div and contains(@class, '__credit'))])[last()]"
)


THE_NEW_YORKER = PublisherSpec(
    key="us.TheNewYorker",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY),
                authors=authors_from_ld_path("NewsArticle/author"),
                date=date_from_ld_path("NewsArticle/datePublished"),
                title=title_from_ld_path("NewsArticle/headline"),
                topics=topics_from_meta(),
                images=make_images(
                    _PARAGRAPH, image_selector=_IMAGE, caption_selector=_CAPTION, author_selector=_CREDIT
                ),
                extra=(
                    Extractor("description", title_from_meta("og:description"), validate=False),
                    Extractor("alternative_description", title_from_ld_path("NewsArticle/description"), validate=False),
                    Extractor(
                        "alternative_title", title_from_ld_path("NewsArticle/alternativeHeadline"), validate=False
                    ),
                    Extractor("section", title_from_ld_path("NewsArticle/articleSection"), validate=False),
                ),
            ),
        ),
    ),
)
