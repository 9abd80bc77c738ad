"""Generic attribute extractors — parity with reference
``src/fundus/parser/utility.py:407-621`` and
``src/fundus/parser/base_parser.py:328-335``.

Covers: author normalization (polymorphic over str/dict/list),
topic/keyword splitting, fuzzy date parsing with German month names and
CET/CEST/IST tz info, <title> extraction, free-access default, and the
shared substitution/result-filter helpers.
"""

from __future__ import annotations

import functools
import re
import time
from datetime import datetime
from typing import Callable, Dict, Iterable, List, Optional, Pattern, Sequence, Set, Union

from dateutil import parser as _dateutil_parser

from .css import CSSSelector
from .dom import Element
from .jsonld import LinkedData
from .text import normalize_whitespace, strip_nodes_to_text

__all__ = [
    "apply_substitution_pattern_over_list",
    "apply_result_filter",
    "generic_author_parsing",
    "generic_topic_parsing",
    "generic_date_parsing",
    "generic_text_extraction",
    "parse_title_from_root",
    "free_access_from_ld",
]


def apply_substitution_pattern_over_list(
    input_list: List[str], pattern: Pattern[str], replacement: Union[str, Callable] = ""
) -> List[str]:
    return [subbed for text in input_list if (subbed := re.sub(pattern, replacement, text).strip())]


def apply_result_filter(
    input_list: List[str], result_filter: Optional[Union[Pattern[str], Set[str]]]
) -> List[str]:
    # dict.fromkeys gives order-preserving dedup (reference utility.py:413-422)
    if isinstance(result_filter, re.Pattern):
        return [item for item in dict.fromkeys(input_list) if not re.search(result_filter, item)]
    normalized = {v.lower() for v in result_filter} if result_filter else set()
    return [item for item in dict.fromkeys(input_list) if result_filter is None or item.lower() not in normalized]


_COMMON_AUTHOR_DELIMITERS = [",", ";", " und ", " and ", " & ", r" \| "]


def _author_from_dict(author: Dict[str, str]) -> Optional[str]:
    if (name := author.get("name")) is not None:
        return name
    given = author.get("givenName", "")
    additional = author.get("additionalName", "")
    family = author.get("familyName", "")
    if given and family:
        return " ".join(part for part in (given, additional, family) if part)
    return None


def generic_author_parsing(
    value: Union[None, str, Dict[str, str], List[str], List[Dict[str, str]]],
    split_on: Optional[List[str]] = None,
    normalize: bool = True,
    substitution_pattern: Optional[Pattern[str]] = None,
    result_filter: Optional[Union[Pattern[str], Set[str]]] = None,
) -> List[str]:
    if not value:
        return []

    authors: List[str] = []
    for item in value if isinstance(value, list) else [value]:
        if isinstance(item, str):
            authors.append(item)
        elif isinstance(item, dict):
            if (author := _author_from_dict(item)) is not None:
                authors.append(author)
        else:
            raise TypeError(
                f"<value> {value!r} has an unsupported type {type(value)}. "
                "Supported types are 'Optional[str], Dict[str, str], List[str], List[Dict[str, str]],'"
            )

    if normalize or split_on:
        splitter = r"|".join(split_on or _COMMON_AUTHOR_DELIMITERS)
        flattened: List[str] = []
        for author in authors:
            flattened.extend(part for part in re.split(splitter, author) if part)
        authors = [normalize_whitespace(author) for author in flattened if author.strip()]
    if substitution_pattern:
        authors = apply_substitution_pattern_over_list(authors, substitution_pattern)
    return apply_result_filter(authors, result_filter)


def generic_topic_parsing(
    keywords: Optional[Union[str, List[str]]],
    delimiter: Union[str, List[str]] = ",",
    substitution_pattern: Optional[Pattern[str]] = None,
    result_filter: Optional[Union[Pattern[str], Set[str]]] = None,
) -> List[str]:
    if isinstance(delimiter, str):
        delimiter = [delimiter]
    if not keywords:
        topics: List[str] = []
    elif isinstance(keywords, str):
        topics = [cleaned for kw in re.split(f"[{''.join(delimiter)}]", keywords) if (cleaned := kw.strip())]
    elif isinstance(keywords, list) and all(isinstance(s, str) for s in keywords):
        topics = keywords
    else:
        raise TypeError(f"Encountered unexpected type {type(keywords)} as keyword parameter")
    if substitution_pattern:
        topics = apply_substitution_pattern_over_list(topics, substitution_pattern)
    return apply_result_filter(topics, result_filter=result_filter)


_TZ_OFFSETS = {"CET": 3600, "CEST": 7200, "IST": 19800}


class _LocaleAwareParserInfo(_dateutil_parser.parserinfo):
    # English + German month names (reference utility.py:572-587)
    MONTHS = [
        ("Jan", "January", "Januar"),
        ("Feb", "February", "Februar"),
        ("Mar", "March", "März"),
        ("Apr", "April"),
        ("May", "May", "Mai"),
        ("Jun", "June", "Juni"),
        ("Jul", "July", "Juli"),
        ("Aug", "August"),
        ("Sep", "Sept", "September"),
        ("Oct", "October", "Oktober", "Okt"),
        ("Nov", "November"),
        ("Dec", "December", "Dezember", "Dez"),
    ]


@functools.lru_cache(maxsize=1)
def _parserinfo_for_year(year: int) -> _LocaleAwareParserInfo:
    # dateutil reads the current year when a parserinfo is built and
    # resolves two-digit years against it, so one instance serves one
    # calendar year, never the whole life of a process
    return _LocaleAwareParserInfo()


def generic_date_parsing(date_str: Optional[str]) -> Optional[datetime]:
    if date_str is None:
        return None
    info = _parserinfo_for_year(time.localtime().tm_year)
    return _dateutil_parser.parse(date_str, tzinfos=_TZ_OFFSETS, parserinfo=info, fuzzy=True)


def generic_text_extraction(doc: Element, selector: Callable[[Element], Sequence[Element]]) -> Optional[str]:
    return strip_nodes_to_text(list(selector(doc)))


_TITLE_SELECTOR = CSSSelector("title")


def parse_title_from_root(root: Element) -> Optional[str]:
    nodes = _TITLE_SELECTOR(root)
    if len(nodes) != 1:
        return None
    return strip_nodes_to_text(nodes)


def free_access_from_ld(ld: LinkedData) -> bool:
    flag = ld.bf_search("isAccessibleForFree")
    if flag is None:
        return True
    if not flag or flag == "false" or flag == "False":
        return False
    return True
