"""Heise rule spec — semantics per reference
``src/fundus/publishers/de/heise.py`` (single V1; note the reference's
``contains(class, article-content)`` predicate compares element-name
node-sets, which degenerates to always-true — preserved verbatim).
"""

from __future__ import annotations

from ..kernel import PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_ld,
    date_from_ld,
    make_body,
    make_images,
    std_extractors,
    title_from_ld,
    topics_from_meta,
)

_SUMMARY = XPath(
    "//article[not(@data-component='TeaserContainer')]//p[@class='a-article-header__lead'] | "
    "//article[not(@data-component='TeaserContainer')]//div[@id='lead']/p"
)
_SUBHEAD = XPath(
    "//article[not(@data-component='TeaserContainer')]//h3[contains(@class,'subheading')] | "
    "//article[not(@data-component='TeaserContainer')]//h2[@class='heading-h2 replaced-h1']"
)
_PARAGRAPH = XPath(
    "//div[contains(class, article-content)]/p[not(@class"
    " or ((string-length(text()) < 3) and (contains(text(), '(') or contains(span, '(')))"
    " or contains(text(), '=== Anzeige / Sponsorenhinweis')"
    " or contains(text(), 'Tipp: Wir sind bei WhatsApp!')"
    " or contains(a, 'heise+ abonnieren')"
    " or contains(text(), '► '))"
    " or @class='antwort rte__abs--antwort'"
    " or @class='frage rte__abs--frage'"
    " or @class='json-ld-paid-content-marker'] "
    " | //div[contains(class, article-content)]//ul["
    "@class='rte__list rte__list--unordered' or @class='boxtext']/li | "
    "//div[@class='ringCommonDetail ringBlockType-paragraph ']/p"
    " | //div[@class='ringCommonDetail ringBlockType-paragraph ']//ul/li"
)
_UPPER = XPath("//h1[@class='article-headline ' or contains(@class, 'a-article-header__title')]")
_IMAGE = XPath(
    "//div[@class='article-image__gallery-container']//img|"
    "//div[@class='image-container']//img|"
    "//div[@class='article-layout__content']//figure[not(@class)]//noscript//img"
)
_CAPTION = XPath(
    "./ancestor::figure//p[@class='a-caption__text']|"
    "./ancestor::figure//div[@class='text']|"
    "./ancestor::div[@class='article-gallery ']//span[@class='caption']"
)
_CREDIT = XPath(
    "./ancestor::figure//p[@class='a-caption__source']|"
    "./ancestor::div[@class='article-gallery ']//span[@class='copyright']"
)


HEISE = PublisherSpec(
    key="de.Heise",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_ld(),
                topics=topics_from_meta(),
                images=make_images(
                    _PARAGRAPH,
                    upper_boundary_selector=_UPPER,
                    image_selector=_IMAGE,
                    caption_selector=_CAPTION,
                    author_selector=_CREDIT,
                ),
            ),
        ),
    ),
)
