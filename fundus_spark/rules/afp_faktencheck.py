"""AFP Faktencheck rule spec — semantics per reference
``src/fundus/publishers/de/afp_faktencheck.py`` (single V1; date from
the ClaimReview LD block).
"""

from __future__ import annotations

from ..kernel import PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_nodes,
    date_from_ld_path,
    make_body,
    make_images,
    std_extractors,
    title_from_meta,
    topics_from_nodes,
)

_SUMMARY = XPath("//div[@class='wrapper-summary']")
_PARAGRAPH = XPath("//div[@class='wrapper-body']//p[text()]")
_SUBHEAD = XPath("//div[@class='wrapper-body']//*[self::h3 or self::h2]")
_AUTHOR = XPath("//li[@class='information-item']/span/a")
_TOPIC = XPath("//div[@class='left-content']/a")
_IMAGE = XPath("//div[contains(@class,'field--type-image')]//img")
_CAPTION = XPath("./ancestor::div[@class='wrapper-image']//span[@class='legend']")


AFP_FAKTENCHECK = PublisherSpec(
    key="de.AFPFaktencheck",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_nodes(_AUTHOR),
                date=date_from_ld_path("//ClaimReview/datePublished"),
                title=title_from_meta(),
                topics=topics_from_nodes(_TOPIC),
                images=make_images(_PARAGRAPH, image_selector=_IMAGE, caption_selector=_CAPTION, relative_urls=True),
            ),
        ),
    ),
)
