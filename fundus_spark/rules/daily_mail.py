"""Daily Mail rule spec — semantics per reference
``src/fundus/publishers/uk/daily_mail.py`` (single V1; topics keep
only non-lowercase entries).
"""

from __future__ import annotations

from typing import List

from ..kernel import CSSSelector, ParseContext, PublisherSpec, VersionSpec, XPath, generic_topic_parsing
from ._common import authors_from_ld, date_from_ld, make_body, make_images, std_extractors, title_from_meta

_PARAGRAPH = CSSSelector("div[itemprop='articleBody'] > p")
_UPPER = CSSSelector("div#content")
_IMAGE = CSSSelector("div.mol-img-group img")
_CAPTION = XPath("./ancestor::div[contains(@class, 'mol-img-group')]/p[@class='imageCaption']")


def _topics(ctx: ParseContext) -> List[str]:
    return [topic for topic in generic_topic_parsing(ctx.meta.get("keywords")) if topic.casefold() != topic]


DAILY_MAIL = PublisherSpec(
    key="uk.DailyMail",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_meta(),
                topics=_topics,
                images=make_images(
                    _PARAGRAPH, upper_boundary_selector=_UPPER, image_selector=_IMAGE, caption_selector=_CAPTION
                ),
            ),
        ),
    ),
)
