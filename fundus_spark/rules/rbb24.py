"""rbb24 rule spec — semantics per reference
``src/fundus/publishers/de/rbb24.py`` (single V1; post-assembly body
surgery: strips a trailing author credit from the summary and a
trailing 'Sendung:' paragraph).
"""

from __future__ import annotations

import datetime
from typing import Any, Dict, List, Optional

from ..kernel import (
    CSSSelector,
    Extractor,
    ParseContext,
    PublisherSpec,
    VersionSpec,
    XPath,
    assemble_body,
    generic_author_parsing,
    generic_date_parsing,
)
from ._common import free_access, title_from_meta

_PARAGRAPH = XPath("//div[contains(concat(' ', @class , ' '), ' textblock ')]/p")
_SUMMARY = XPath("//div[contains(concat(' ', @class , ' '), ' shorttext ')]/p")
_SUBHEAD = XPath("//h4[contains(concat(' ', @class , ' '), ' texttitle ')]")
_AUTHOR = CSSSelector("span.authorname")
_DATE = CSSSelector("div.lineinfo")


def _authors(ctx: ParseContext) -> List[str]:
    if len(_AUTHOR(ctx.doc)) > 0:
        return generic_author_parsing(_AUTHOR(ctx.doc)[0].text)
    return []


def _body(ctx: ParseContext) -> Optional[Dict[str, Any]]:
    article_body = assemble_body(
        ctx.doc,
        summary_selector=_SUMMARY,
        paragraph_selector=_PARAGRAPH,
        subheadline_selector=_SUBHEAD,
    )
    # author often credited at the end of the summary: "... . Von Max
    # Mustermann" (reference rbb24.py:42-65)
    if len(_AUTHOR(ctx.doc)) > 0 and article_body["summary"]:
        authors_list = _authors(ctx)
        summary = article_body["summary"][0]
        potential_end = summary[: len(summary) - 1].rfind(".")
        potential_credits = summary[potential_end + 2 : len(summary)]
        if potential_credits.split(" ", 1)[0] == "Von":
            if all(author in potential_credits for author in authors_list):
                # the reference REPLACES the whole summary tuple with the
                # single trimmed element (rbb24.py: `summary._data =
                # (summary[:pe+1],)`), discarding any additional summary
                # paragraphs — mirror that, don't preserve the tail
                # (round-7 audit batch 13 finding)
                article_body["summary"] = [summary[: potential_end + 1]]
    # trailing broadcast note "Sendung: ..." (reference rbb24.py:66-72)
    if article_body["sections"]:
        paragraphs = article_body["sections"][-1]["paragraphs"]
        if paragraphs and paragraphs[-1].startswith("Sendung:"):
            article_body["sections"][-1]["paragraphs"] = paragraphs[:-1]
    return article_body


def _publishing_date(ctx: ParseContext) -> Optional[datetime.datetime]:
    date_nodes = _DATE(ctx.doc)
    publishing_date_string = date_nodes[0].text if date_nodes else None
    # 'Do 25.04.24 | 13:47 Uhr' -> date + time
    if publishing_date_string is not None:
        index = publishing_date_string.index("|")
        date_string = publishing_date_string[index - 9 : index - 1]
        time_string = publishing_date_string[index + 1 : index + 7]
        return generic_date_parsing(date_string + " " + time_string)
    return generic_date_parsing(None)


RBB24 = PublisherSpec(
    key="de.RBB24",
    versions=(
        VersionSpec(
            name="V1",
            extractors=(
                Extractor("body", _body),
                Extractor("authors", _authors, default=list),
                Extractor("publishing_date", _publishing_date),
                Extractor("title", title_from_meta()),
                Extractor("free_access", free_access, default=False),
            ),
        ),
    ),
)
