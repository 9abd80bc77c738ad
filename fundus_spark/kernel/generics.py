"""Generic attribute extractors — parity with reference
``src/fundus/parser/utility.py:407-621`` and
``src/fundus/parser/base_parser.py:328-335``.

Covers: author normalization (polymorphic over str/dict/list),
topic/keyword splitting, fuzzy date parsing with German month names and
CET/CEST/IST tz info (strict ISO-8601 stamps take a fast path that
builds dateutil's exact result), <title> extraction, free-access default, and the
shared substitution/result-filter helpers.
"""

from __future__ import annotations

import functools
import re
import time
from datetime import datetime
from typing import Callable, Dict, Iterable, List, Optional, Pattern, Sequence, Set, Union

from dateutil import parser as _dateutil_parser
from dateutil import tz as _dateutil_tz

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


# A strict ISO-8601 stamp, nothing around it: YYYY-MM-DDTHH:MM:SS, 1-9
# fraction digits (both readers keep the first six), then ``Z``, an
# offset of at most 23:59, or no zone. dateutil reads these field for
# field, so ``datetime.fromisoformat`` builds the same value at a
# twentieth of the cost.
_ISO_STAMP = re.compile(
    r"(?P<stamp>[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}(?:\.[0-9]{1,9})?)"
    r"(?:(?P<utc>Z)|(?P<sign>[+-])(?P<hh>[01][0-9]|2[0-3]):(?P<mm>[0-5][0-9]))?"
)
# dateutil consults the host's zone names; ``time`` above is the
# calendar clock, which the rule-spec tests pin
_zone_clock = time


def _iso_stamp(m: "re.Match[str]") -> datetime:
    """The datetime dateutil builds for a strict ISO stamp, with its own
    tz objects: ``tzoffset(None, seconds)`` for a non-zero offset and,
    for ``Z`` or a zero offset (which ``parserinfo.validate`` renames
    ``UTC``), ``tzlocal()`` when the host calls its zone UTC at that
    instant, ``tz.UTC`` otherwise (``parser._build_tzaware``). Raises
    ``ValueError`` on an out-of-range field."""
    naive = datetime.fromisoformat(m.group("stamp"))
    if m.group("utc") is None:
        if m.group("sign") is None:
            return naive
        offset = int(m.group("hh")) * 3600 + int(m.group("mm")) * 60
        if offset:
            return naive.replace(tzinfo=_dateutil_tz.tzoffset(None, offset if m.group("sign") == "+" else -offset))
    if "UTC" in _zone_clock.tzname:
        aware = naive.replace(tzinfo=_dateutil_tz.tzlocal())
        if aware.tzname() == "UTC":
            return aware
        folded = _dateutil_tz.enfold(aware, fold=1)
        if folded.tzname() == "UTC":
            return folded
    return naive.replace(tzinfo=_dateutil_tz.UTC)


def generic_date_parsing(date_str: Optional[str]) -> Optional[datetime]:
    if date_str is None:
        return None
    if (stamp := _ISO_STAMP.fullmatch(date_str)) is not None:
        try:
            return _iso_stamp(stamp)
        except ValueError:
            pass  # an out-of-range field: dateutil raises its own error for it
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
