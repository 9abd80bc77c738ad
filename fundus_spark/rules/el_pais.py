"""El País rule spec — semantics per reference
``src/fundus/publishers/es/el_pais.py`` (single V1).
"""

from __future__ import annotations

from ..kernel import CSSSelector, PublisherSpec, VersionSpec, XPath
from ._common import (
    authors_from_ld,
    date_from_ld,
    make_body,
    make_images,
    std_extractors,
    title_from_ld,
    topics_from_ld,
)

_PARAGRAPH = XPath("//div[@class='a_c clearfix']/p")
_SUBHEAD = XPath("//div[@class='a_c clearfix']/h3")
_SUMMARY = XPath("//div[@class='a_e_txt _df']//h2")
_UPPER = XPath("//article")
_LOWER = CSSSelector("aside.a_com")
_IMAGE = CSSSelector("figure.a_m img")
_CAPTION = XPath("./ancestor::figure//figcaption/span[1]")
_CREDIT = XPath("./ancestor::figure//figcaption/span[last()]")


EL_PAIS = PublisherSpec(
    key="es.ElPais",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_ld(),
                topics=topics_from_ld(),
                images=make_images(
                    _PARAGRAPH,
                    upper_boundary_selector=_UPPER,
                    lower_boundary_selector=_LOWER,
                    image_selector=_IMAGE,
                    caption_selector=_CAPTION,
                    author_selector=_CREDIT,
                ),
            ),
        ),
    ),
)
