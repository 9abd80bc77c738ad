"""Generic (publisher-less) extraction rules.

Applied to turns whose ``tool`` column carries no known publisher key.
Uses only the reference's generic machinery: <title> extraction
(reference ``utility.py:603-612``), JSON-LD bf_search for
author/date, <meta> keywords, free-access default
(``base_parser.py:328-335``), and a conservative ``article``-scoped
body heuristic matching the synthetic fixture grammar (FIXTURES.md §1).
"""

from __future__ import annotations

from ..kernel import PublisherSpec, VersionSpec, XPath
from ._common import authors_from_ld, date_from_ld, make_body, std_extractors, title_from_root, topics_from_meta

_PARAGRAPH = XPath("//article//p[not(@class='summary')]")
_SUMMARY = XPath("//article//p[@class='summary']")
_SUBHEAD = XPath("//article//h2")


GENERIC = PublisherSpec(
    key="generic",
    versions=(
        VersionSpec(
            name="V1",
            extractors=std_extractors(
                body=make_body(_PARAGRAPH, summary=_SUMMARY, subheadline=_SUBHEAD),
                authors=authors_from_ld(),
                date=date_from_ld(),
                title=title_from_root,
                topics=topics_from_meta(),
            ),
        ),
    ),
)
