"""Unit tests for kernel primitives, modeled on the reference's own
unit coverage (``tests/test_parser.py:277-310``, ``tests/test_filter``)
plus engine-specific cases for the from-scratch DOM/XPath/CSS stack.
"""

from __future__ import annotations

import datetime

import pytest

from fundus_spark.kernel import (
    CSSSelector,
    LinkedData,
    XPath,
    assemble_body,
    body_to_plaintext,
    generic_author_parsing,
    generic_date_parsing,
    generic_topic_parsing,
    harvest_meta,
    normalize_whitespace,
    parse_html,
    parse_srcset,
    parse_title_from_root,
)


def test_normalize_whitespace_char_class():
    assert normalize_whitespace("a b​c") == "a b c"
    assert normalize_whitespace("  a \t\n b  ") == "a b"
    assert normalize_whitespace("﻿x‌‍y") == "x y"


def test_dom_text_tail_model():
    doc = parse_html("<html><body><p>a<b>b</b>c</p></body></html>")
    p = XPath("//p")(doc)[0]
    assert p.text == "a"
    assert p.children[0].tag == "b"
    assert p.children[0].tail == "c"
    assert p.text_content() == "abc"


def test_dom_implied_p_close():
    doc = parse_html("<body><p>one<div>two</div></body>")
    p = XPath("//p")(doc)[0]
    assert p.text_content() == "one"
    assert XPath("//div")(doc)[0].text_content() == "two"


def test_dom_void_elements_and_br_depth():
    doc = parse_html("<body><p>a<br>b<span>c<br>d</span></p></body>")
    p = XPath("//p")(doc)[0]
    from fundus_spark.kernel import break_preserved_text

    # direct-child <br> does NOT newline (reference selects only *//br);
    # nested <br> does
    assert break_preserved_text(p) == "ab" + "c\nd"


def test_xpath_predicates_and_position():
    doc = parse_html("<body><div id='x'><p>1</p><p>2</p><p>3</p></div></body>")
    assert [n.text_content() for n in XPath("(//p)[position() > 1]")(doc)] == ["2", "3"]
    assert [n.text_content() for n in XPath("(//p)[1]")(doc)] == ["1"]
    assert [n.text_content() for n in XPath("//div[@id='x']/p[3]")(doc)] == ["3"]


def test_xpath_preceding_sibling_reverse_order():
    doc = parse_html("<body><div><h2>___</h2><p>drop</p><p>keep</p></div></body>")
    sel = XPath("//div/p[not(preceding-sibling::*[1][self::h2 and text()='___'])]")
    assert [n.text_content() for n in sel(doc)] == ["keep"]


def test_xpath_union_and_contains():
    doc = parse_html("<body><article><p class=''>a</p><ul><li>b</li></ul><blockquote>c</blockquote></article></body>")
    sel = XPath("//article/p[string-length(@class)<1 and text()] | //article/ul/li[text()] |//article/blockquote")
    assert [n.text_content() for n in sel(doc)] == ["a", "b", "c"]


def test_xpath_re_test():
    doc = parse_html("<body><section><p>content</p><p>dpa</p></section></body>")
    sel = XPath(r"//section/p[not(re:test(string(), '^dpa$'))]")
    assert [n.text_content() for n in sel(doc)] == ["content"]


def test_css_selector_subset():
    doc = parse_html(
        "<body><div class='c-article-content'><h2>h</h2><p>p1</p><span><p>deep</p></span></div>"
        "<p class='c-article-summary extra'>s</p></body>"
    )
    assert [n.text_content() for n in CSSSelector("div.c-article-content > p")(doc)] == ["p1"]
    assert [n.text_content() for n in CSSSelector("p.c-article-summary")(doc)] == ["s"]
    assert len(CSSSelector("div > h2, p")(doc)) == 4


# nested divs: d2 sits inside d1 between its two <p>s, so a step taken
# from both divs yields d1's hits before d2's unless it is re-sorted
_NESTED = (
    "<html><body><div id='d1'><p id='a'>a</p><div id='d2'><p id='b'>b</p><p id='c'>c</p></div>"
    "<p id='d'>d</p></div><p id='e'>e</p></body></html>"
)


def _ids(nodes):
    return [n.get("id") for n in nodes]


def test_xpath_double_slash_compiles_to_one_descendant_step_only_when_position_free():
    def axes(expr):
        return [step[1] for step in XPath(expr)._ast[2]]

    assert axes("//article//p[not(@class='summary')]") == ["descendant", "descendant"]
    assert axes("//*[@id and contains(@class, 'x')]") == ["descendant"]
    assert axes(".//p[.//a]") == ["self", "descendant"]
    for positional in ("//p[1]", "//p[last()]", "//p[count(a)]", "//div[p[position()=1]]", "//p[@a][2]"):
        assert axes(positional) == ["descendant-or-self", "child"], positional
    for other_step in ("//text()", "//@x", "//self::p", "//.."):
        assert axes(other_step)[0] == "descendant-or-self", other_step


def test_xpath_positional_predicates_count_per_parent():
    doc = parse_html(_NESTED)
    assert _ids(XPath("//p[1]")(doc)) == ["a", "b", "e"]
    assert _ids(XPath("//p[last()]")(doc)) == ["c", "d", "e"]
    assert _ids(XPath("//p[position()>1]")(doc)) == ["c", "d"]
    assert _ids(XPath("//div[p[1]]")(doc)) == ["d1", "d2"]
    assert _ids(XPath("(//p)[1]")(doc)) == ["a"]


def test_xpath_steps_from_nested_contexts_come_out_in_document_order():
    doc = parse_html(_NESTED)
    assert _ids(XPath("//div/p")(doc)) == ["a", "b", "c", "d"]
    assert _ids(XPath("//div//p")(doc)) == ["a", "b", "c", "d"]
    d1 = XPath("//div[@id='d1']")(doc)[0]
    assert _ids(XPath(".//p")(d1)) == ["a", "b", "c", "d"]
    assert _ids(XPath("./p/following-sibling::*")(d1)) == ["d2", "d"]
    # attributes order by name within an element, elements by document order
    doc = parse_html("<body><i zeta='1' alpha='2' mid='3'></i><b beta='4' alpha='5'></b></body>")
    assert [(a.owner.tag, a.name) for a in XPath("//*/@*")(doc)] == [
        ("i", "alpha"),
        ("i", "mid"),
        ("i", "zeta"),
        ("b", "alpha"),
        ("b", "beta"),
    ]
    assert [a.name for a in XPath("./@*")(doc.children[-1].children[0])] == ["alpha", "mid", "zeta"]


def test_css_matches_are_unique_and_in_document_order():
    doc = parse_html(_NESTED)
    assert _ids(CSSSelector("div p")(doc)) == ["a", "b", "c", "d"]
    assert _ids(CSSSelector("div > p, p")(doc)) == ["a", "b", "c", "d", "e"]
    assert _ids(CSSSelector("div:has(> div)")(doc)) == ["d1"]
    assert _ids(CSSSelector("div:has(p)")(doc)) == ["d1", "d2"]
    assert _ids(CSSSelector("p:nth-of-type(2)")(doc)) == ["c", "d"]
    # compounds left of the match are looked up no higher than the context
    d2 = XPath("//div[@id='d2']")(doc)[0]
    assert _ids(CSSSelector("div p")(d2)) == ["b", "c"]
    assert _ids(CSSSelector("div > p")(d2)) == ["b", "c"]
    assert _ids(CSSSelector("body p")(d2)) == []
    assert _ids(CSSSelector("div div")(d2)) == []
    with pytest.raises(ValueError):
        CSSSelector(", p")


def test_generic_page_extraction_never_sorts(monkeypatch):
    """Every selector the generic rule and the shared kernel run on the
    fixture page yields document order by construction."""
    import random

    from fundus_spark.kernel import run_extraction, xpath
    from fundus_spark.rules.generic import GENERIC
    from fundus_spark.sources.transcripts import synth_article_html

    sorts = []
    real_sort = xpath._document_sort

    def counting_sort(nodes):
        sorts.append(1)
        return real_sort(nodes)

    monkeypatch.setattr(xpath, "_document_sort", counting_sort)
    out = run_extraction(GENERIC, synth_article_html(random.Random(7), 7))
    assert out["title"].startswith("Synthetic article 7") and out["body"]["sections"]
    assert len(sorts) == 0
    # a union still sorts
    XPath("//p | //h2")(parse_html(_NESTED))
    assert len(sorts) == 1


def test_meta_harvest_namespacing_and_joining():
    doc = parse_html(
        "<html><head>"
        "<meta charset='utf-8'>"
        "<meta name='keywords' content='a,b'>"
        "<meta class='swiftype' name='author' content='X'>"
        "<meta property='og:title' content='T'>"
        "<meta name='dup' content='1'><meta name='dup' content='2'>"
        "</head><body></body></html>"
    )
    meta = harvest_meta(doc)
    assert meta["charset"] == "utf-8"
    assert meta["keywords"] == "a,b"
    assert meta["swiftype:author"] == "X"
    assert meta["og:title"] == "T"
    assert meta["dup"] == "1,2"


def test_linked_data_graph_flatten_and_bf_search():
    ld = LinkedData(
        [
            {"@graph": [{"@type": "NewsArticle", "headline": "H", "author": {"name": "A"}}]},
            {"@type": "WebPage", "isAccessibleForFree": "false"},
        ]
    )
    assert ld.bf_search("headline") == "H"
    assert ld.bf_search("isAccessibleForFree") == "false"
    assert ld.bf_search("nope", default="d") == "d"
    assert ld.xpath_search("NewsArticle/headline", scalar=True) == "H"
    assert ld.xpath_search("NewsArticle/author/name") == ["A"]


def test_linked_data_type_collision_becomes_list():
    ld = LinkedData([{"@type": "T", "k": 1}, {"@type": "T", "k": 2}])
    assert ld.xpath_search("T/k") == ["1", "2"]


def test_author_parsing_polymorphism():
    assert generic_author_parsing(None) == []
    assert generic_author_parsing("A, B und C") == ["A", "B", "C"]
    assert generic_author_parsing({"name": "X"}) == ["X"]
    assert generic_author_parsing([{"name": "X"}, {"givenName": "G", "familyName": "F"}]) == ["X", "G F"]
    assert generic_author_parsing("A | B") == ["A", "B"]
    assert generic_author_parsing(["dup", "dup"]) == ["dup"]


def test_topic_parsing_delimiters_and_filter():
    import re

    assert generic_topic_parsing("a, b,c") == ["a", "b", "c"]
    assert generic_topic_parsing("x;y", delimiter=";") == ["x", "y"]
    assert generic_topic_parsing("keep, drop news", result_filter=re.compile(r" news")) == ["keep"]
    assert generic_topic_parsing("A, a, B", result_filter={"b"}) == ["A", "a"]


def test_date_parsing_german_months_and_tz():
    d = generic_date_parsing("28. März 2023 14:00 CEST")
    assert d is not None and (d.month, d.day) == (3, 28)
    assert d.utcoffset() == datetime.timedelta(seconds=7200)
    assert generic_date_parsing(None) is None


def test_date_parsing_two_digit_years_follow_the_calendar_year(monkeypatch):
    """The parser info is reused within a year but not across New Year:
    dateutil resolves two-digit years against the year it was built in."""
    import time

    from dateutil import parser as dateutil_parser

    from fundus_spark.kernel import generics

    real_localtime = time.localtime
    year = real_localtime().tm_year
    assert generics._parserinfo_for_year(year) is generics._parserinfo_for_year(year)
    this_year = generic_date_parsing("1 January 31").year
    assert this_year == dateutil_parser.parse("1 January 31").year
    in_2090 = time.struct_time((2090,) + tuple(real_localtime())[1:])
    monkeypatch.setattr(time, "localtime", lambda *secs: real_localtime(*secs) if secs else in_2090)
    assert generic_date_parsing("1 January 31").year == 2131
    monkeypatch.undo()
    assert generic_date_parsing("1 January 31").year == this_year


def _iso_inputs():
    """(text, strict) pairs: ``strict`` marks an in-range
    ``YYYY-MM-DDTHH:MM:SS[.f]`` stamp with ``Z``, ``±HH:MM`` or no zone
    and nothing around it; the rest are near misses."""
    import random

    rng = random.Random("iso-fast-path")
    out = []
    for _ in range(600):
        stamp = "%04d-%02d-%02dT%02d:%02d:%02d" % (
            rng.randint(1, 9999), rng.randint(1, 12), rng.randint(1, 28),
            rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59),
        )  # fmt: skip
        frac = rng.choice(["", ".000", ".123", ".5", ".120000", ".999999", ".123456789", ".000000001"])
        zone = rng.choice(["", "Z", "+00:00", "-00:00", "+01:00", "-08:00", "+05:30", "+23:59", "-23:59"])
        text, strict = stamp + frac + zone, True
        roll = rng.random()
        if roll < 0.08:
            text, strict = text.replace("T", "t"), False
        elif roll < 0.12 and zone == "Z":
            text, strict = text[:-1] + "z", False
        elif roll < 0.2:
            text, strict = rng.choice([" ", "\t", "  "]) + text + rng.choice(["", " "]), False
        elif roll < 0.26:
            text, strict = stamp[:10], False
        elif roll < 0.36:
            i, bad = rng.choice([(5, "13"), (8, "31" if stamp[5:7] == "02" else "32"), (11, "24"), (14, "60"), (17, "60")])
            text, strict = text[:i] + bad + text[i + 2 :], False
        elif roll < 0.4:
            text, strict = stamp + rng.choice(["+24:00", "+05:99", "+0530", ".", ".1234567890", ",5"]), False
        out.append((text, strict))
    return out


def _observe(parse, text):
    """What a caller can see of ``parse(text)``: the value, its repr,
    ``str()``, ``utcoffset()``, ``tzname()`` and tzinfo type, or the
    error each of them raises."""
    try:
        d = parse(text)
    except Exception as exc:  # noqa: BLE001 — the error is part of the behaviour
        return ("error", type(exc).__name__, str(exc))
    seen = []
    for view in (lambda: d, lambda: repr(d), lambda: str(d), d.utcoffset, d.tzname, lambda: type(d.tzinfo)):
        try:
            seen.append(view())
        except Exception as exc:  # noqa: BLE001
            seen.append(("error", type(exc).__name__, str(exc)))
    return tuple(seen)


def _date_observation(text):
    from fundus_spark.kernel import generics

    return _observe(generics.generic_date_parsing, text)


def _dateutil_observation(text):
    import time

    from dateutil import parser as dateutil_parser

    from fundus_spark.kernel import generics

    info = generics._parserinfo_for_year(time.localtime().tm_year)
    return _observe(lambda t: dateutil_parser.parse(t, tzinfos=generics._TZ_OFFSETS, parserinfo=info, fuzzy=True), text)


def iso_fast_path_mismatches():
    return [text for text, _ in _iso_inputs() if _date_observation(text) != _dateutil_observation(text)]


def test_iso_date_fast_path_matches_dateutil(monkeypatch):
    """Value, ``str()``, ``utcoffset()``, ``tzname()`` and tzinfo type
    equal dateutil's on every input; only in-range strict stamps skip
    dateutil, everything else still reaches it."""
    from dateutil import parser as dateutil_parser

    inputs = _iso_inputs()
    assert sum(strict for _, strict in inputs) >= 200 and sum(not strict for _, strict in inputs) >= 150
    assert iso_fast_path_mismatches() == []

    calls = []
    real_parse = dateutil_parser.parse
    monkeypatch.setattr(dateutil_parser, "parse", lambda *a, **k: calls.append(a[0]) or real_parse(*a, **k))
    for text, strict in inputs:
        del calls[:]
        _date_observation(text)
        assert calls == ([] if strict else [text]), text


def test_iso_date_fast_path_matches_dateutil_in_other_zones():
    """dateutil gives a ``Z``/zero-offset stamp ``tzlocal()`` on a host
    whose zone is called UTC and ``tzutc()`` elsewhere; so does the
    fast path."""
    import subprocess
    import sys

    code = "from tests.test_kernel_units import iso_fast_path_mismatches as m; print(len(m()))"
    for zone in ("UTC", "Europe/Berlin", "America/New_York", "Asia/Kolkata"):
        env = {**__import__("os").environ, "TZ": zone}
        out = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True)
        assert out.stdout.strip() == "0", (zone, out.stdout, out.stderr[-2000:])


def _generic_page():
    import random

    from fundus_spark.sources.transcripts import synth_article_html

    return synth_article_html(random.Random(11), 11)


def test_generic_page_extraction_copies_no_node_and_parses_no_date_with_dateutil(monkeypatch):
    """Body text is read off the parsed tree (no node is copied) and the
    page's ISO date never reaches dateutil."""
    from dateutil import parser as dateutil_parser

    from fundus_spark.kernel import dom, run_extraction
    from fundus_spark.rules.generic import GENERIC

    html = _generic_page()
    parsed = sum(1 for _ in parse_html(html).iter())
    built, parses = [], []
    real_init, real_parse = dom.Element.__init__, dateutil_parser.parse

    def counting_init(self, tag, attrib=None):
        built.append(tag)
        real_init(self, tag, attrib)

    monkeypatch.setattr(dom.Element, "__init__", counting_init)
    monkeypatch.setattr(dateutil_parser, "parse", lambda *a, **k: parses.append(a) or real_parse(*a, **k))
    out = run_extraction(GENERIC, html)
    assert out["body"]["sections"] and out["publishing_date"] is not None
    assert len([tag for tag in built if tag != "#document"]) == parsed  # the parse, and nothing else
    assert parses == []


def test_parse_html_constructs_no_html_parser(monkeypatch):
    import html.parser

    made = []
    real_init = html.parser.HTMLParser.__init__
    monkeypatch.setattr(html.parser.HTMLParser, "__init__", lambda self, *a, **k: made.append(1) or real_init(self, *a, **k))
    assert parse_html(_generic_page()).tag == "html"
    assert made == []


def test_name_test_descendant_steps_compare_tags_in_the_walk(monkeypatch):
    from fundus_spark.kernel import xpath

    tests = []
    real_node_test = xpath._node_test
    monkeypatch.setattr(xpath, "_node_test", lambda *a: tests.append(1) or real_node_test(*a))
    doc = parse_html("<body><article><p>a</p><!--c--><div><p>b</p></div></article><p>c</p></body>")
    assert [p.text for p in XPath("//article//p")(doc)] == ["a", "b"]
    assert [el.tag for el in XPath("descendant-or-self::article")(doc[0][0])] == ["article"]
    assert tests == []


def test_srcset_parsing_sorted_by_descriptor():
    srcset = "u1 480w, u2 1024w, u3 2x"
    assert parse_srcset(srcset) == {"2x": "u3", "480w": "u1", "1024w": "u2"}


def test_body_assembly_shapes():
    doc = parse_html(
        "<body><article>"
        "<p class='summary'>S</p>"
        "<p class='p'>p1</p><h2 class='h'>H1</h2><p class='p'>p2</p><p class='p'>p3</p>"
        "</article></body>"
    )
    body = assemble_body(
        doc,
        paragraph_selector=XPath("//p[@class='p']"),
        summary_selector=XPath("//p[@class='summary']"),
        subheadline_selector=XPath("//h2"),
    )
    assert body == {
        "summary": ["S"],
        "sections": [
            {"headline": [], "paragraphs": ["p1"]},
            {"headline": ["H1"], "paragraphs": ["p2", "p3"]},
        ],
    }
    assert body_to_plaintext(body) == "S\n\np1\n\nH1\n\np2\n\np3"


def test_body_trailing_em_cleanup():
    doc = parse_html("<body><div><p>text</p><p><em>credit</em></p></div></body>")
    body = assemble_body(doc, paragraph_selector=XPath("//div/p"))
    assert body == {"summary": [], "sections": [{"headline": [], "paragraphs": ["text"]}]}


def test_title_from_root():
    assert parse_title_from_root(parse_html("<html><head><title> T </title></head><body></body></html>")) == "T"
    assert parse_title_from_root(parse_html("<html><body></body></html>")) is None


# --- PDF kernel -------------------------------------------------------------


def test_pdf_roundtrip_multipage():
    from fundus_spark.kernel.pdf import extract_pdf_text
    from fundus_spark.sources.pdf_gen import build_pdf

    pdf = build_pdf([["Hello (world) \\ test", "second line"], ["page two here"]])
    assert extract_pdf_text(pdf) == "Hello (world) \\ test\nsecond line\npage two here"


def test_pdf_operators_tj_array_hex_octal():
    from fundus_spark.kernel.pdf import extract_pdf_text

    # uncompressed stream exercising TJ arrays (kerning ignored), hex
    # strings, octal escapes, quote operator (new line), Tm line break
    content = (
        b"BT /F1 12 Tf 72 720 Td "
        b"[(Hel) -20 (lo)] TJ "
        b"<20776F726C64> Tj "
        b"0 -14 TD (line\\062) Tj "
        b"(next) ' "
        b"ET"
    )
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n"
        + content
        + b"\nendstream\nendobj\n"
    )
    assert extract_pdf_text(pdf) == "Hello world\nline2\nnext"


def test_pdf_degenerate_inputs():
    from fundus_spark.kernel.pdf import extract_pdf_text

    assert extract_pdf_text(b"") == ""
    assert extract_pdf_text(b"not a pdf") == ""
    assert extract_pdf_text(b"%PDF-1.4 truncated") == ""
    # corrupt flate payload is skipped, not raised
    bad = b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode /Length 5 >>\nstream\nxxxxx\nendstream\nendobj"
    assert extract_pdf_text(bad) == ""


# --- boilerplate classifier ---------------------------------------------------


def test_boilerplate_strip_basic():
    from fundus_spark.kernel.boilerplate import extract_main_text

    html = (
        "<html><body>"
        "<nav><a href='/'>Home</a> <a href='/n'>News</a></nav>"
        "<div><p>This is a long enough paragraph with many plain words to count as content here.</p>"
        "<p><a href='/x'>Click here for more</a></p>"  # link-only -> boilerplate
        "<h2>A heading</h2>"
        "<p>Another long paragraph of body text with enough words to pass the content threshold.</p></div>"
        "<footer>© 2024 <a href='/imp'>Imprint</a></footer>"
        "</body></html>"
    )
    out = extract_main_text(html)
    assert out == (
        "This is a long enough paragraph with many plain words to count as content here."
        "\n\nA heading\n\nAnother long paragraph of body text with enough words to pass the content threshold."
    )


def test_boilerplate_heading_without_content_dropped():
    from fundus_spark.kernel.boilerplate import extract_main_text

    html = "<body><h2>Lonely heading</h2><p><a href='/'>nav nav nav</a></p></body>"
    assert extract_main_text(html) is None


def test_boilerplate_link_density():
    from fundus_spark.kernel.boilerplate import classify_blocks
    from fundus_spark.kernel.dom import parse_html

    html = (
        "<body><p>plain words only in this long block so it stays content for sure honestly</p>"
        "<p><a>link text dominating here</a> tiny tail</p></body>"
    )
    labels = [b["label"] for b in classify_blocks(parse_html(html))]
    assert labels == ["content", "boilerplate"]


def test_script_language_detection():
    from fundus_spark.kernel.lang import heuristic_language, script_language

    ja = "東京の天気は晴れです。" + "これはテストの文章です。" * 3
    assert script_language(ja) == "ja"
    zh = "今天天气很好，我们去公园散步吧。" * 3
    assert script_language(zh) == "zh"
    ko = "오늘 날씨가 좋습니다. 공원에 갑시다." * 3
    assert script_language(ko) == "ko"
    ru = "Сегодня хорошая погода, пойдём в парк гулять вместе." * 2
    assert script_language(ru) == "ru"
    uk = "Сьогодні гарна погода, підемо разом гуляти в парку, її друзі." * 2
    assert script_language(uk) == "uk"
    he = "מזג האוויר טוב היום, בוא נלך לפארק." * 2
    assert script_language(he) == "he"
    el = "Ο καιρός είναι καλός σήμερα, πάμε στο πάρκο." * 2
    assert script_language(el) == "el"
    ar = "الطقس جميل اليوم، لنذهب إلى الحديقة معاً." * 2
    assert script_language(ar) == "ar"
    vi = "Hôm nay trời đẹp, chúng ta hãy đi dạo trong công viên nhé." * 2
    assert script_language(vi) == "vi"
    assert script_language("plain latin text with no special scripts at all") is None
    # stopword path still works and now covers more languages
    assert heuristic_language("o tempo está bom hoje, não vamos para o parque com os amigos, mais um dos dias") == "pt"
    # da/no resolve via the sibling-marker vote (round 3): "vej" and
    # "af" are Danish orthography ("vei"/"av" in bokmål)
    assert heuristic_language("og jeg er på vej til det som han ikke var med den og af er til det") == "da"
    assert heuristic_language("og jeg er på vei til det som han ikke var med den og av er til det") == "no"
    assert heuristic_language("etter kampen var det bare mye snakk om en seier og ikke noe mer fra han") == "no"
    assert heuristic_language("efter kampen var det kun meget snak om en sejr og ikke noget mere fra ham") == "da"
    assert heuristic_language("dziś jest ładna pogoda, nie idziemy do parku, to jest jak po za od przez się że w i na z") == "pl"
    assert heuristic_language(ja) == "ja"  # script wins before stopwords


def test_langdetect_breadth_round4():
    """Round-4 coverage: every remaining langdetect language class —
    Indic scripts, Devanagari hi/mr/ne split, Arabic-script ar/fa/ur
    split, Cyrillic bg/mk split, and 13 new Latin profiles."""
    from fundus_spark.kernel.lang import heuristic_language, script_language

    # Indic scripts (one range each)
    assert script_language("আজ আবহাওয়া খুব ভালো, চলো পার্কে যাই।" * 2) == "bn"
    assert script_language("ਅੱਜ ਮੌਸਮ ਬਹੁਤ ਵਧੀਆ ਹੈ, ਆਓ ਪਾਰਕ ਚੱਲੀਏ।" * 2) == "pa"
    assert script_language("આજે હવામાન સરસ છે, ચાલો બગીચામાં જઈએ." * 2) == "gu"
    assert script_language("இன்று வானிலை நன்றாக உள்ளது, பூங்காவிற்கு செல்லலாம்." * 2) == "ta"
    assert script_language("ఈరోజు వాతావరణం బాగుంది, పార్కుకు వెళ్దాం." * 2) == "te"
    assert script_language("ಇಂದು ಹವಾಮಾನ ಚೆನ್ನಾಗಿದೆ, ಉದ್ಯಾನಕ್ಕೆ ಹೋಗೋಣ." * 2) == "kn"
    assert script_language("ഇന്ന് കാലാവസ്ഥ നല്ലതാണ്, പാർക്കിലേക്ക് പോകാം." * 2) == "ml"

    # Devanagari: hi default, mr/ne via function-word markers
    hi = "आज मौसम अच्छा है और हम पार्क में नहीं जा रहे हैं क्योंकि बारिश की संभावना है"
    mr = "आज हवामान चांगले आहे आणि आम्ही उद्यानात जाणार असून पाऊस पडला नाही असे झाले"
    ne = "आज मौसम राम्रो छ। उनीहरूले पार्कमा काम गरेको र भएको कारणका लागि रोकिएको छन्"
    assert script_language(hi) == "hi"
    assert script_language(mr) == "mr"
    assert script_language(ne) == "ne"

    # Arabic script: ar default; fa via پ/چ/ژ/گ; ur via its unique letters
    base_ar = "الطقس جميل اليوم"
    assert script_language(base_ar * 2) == "ar"
    assert script_language((base_ar + " پچژگ") * 2) == "fa"
    # Urdu text typically ALSO contains the Persian letters — the
    # Urdu-unique set must win
    assert script_language((base_ar + " پچ ٹہےں") * 2) == "ur"

    # Cyrillic: bg (frequent vowel ъ, no ы/э/ё) and mk (ѕ/ѓ/ќ)
    bg = "Времето в България е хубаво и възможността да се върнем в парка е голяма"
    mk = "Времето денес е убаво, веднаш ќе дојдеме и ќе видиме дали паркот е отворен"
    assert script_language(bg) == "bg"
    assert script_language(mk) == "mk"

    # new Latin-script stopword profiles
    samples = {
        "fi": "hän sanoo että oli mutta myös niin vain kun hänen mukaan voi olla jotka ovat jos",
        "et": "ta ütles et aga kui oma siis nagu välja üle ning juba kus selle tema või veel",
        "hu": "az mondta hogy nem egy meg már csak volt mint még vagy szerint ezt azt ha és",
        "lv": "viņš teica ka par ar uz arī tika gada pēc tiek vairāk savu kas bija lai un",
        "sk": "povedal keď že sa už aj pre ako podľa ale roku ktorý bol tento môže byť som",
        "cs": "řekl když že se už také jak ale jsou jsem byl být které protože od která do",
        "sl": "je rekel da se na za so bi pa tudi kot ki še bo lahko ni in",
        "hr": "i u na je su od kao ali iz će bio nije biti ima još samo",
        "ca": "els amb què més però també fins molt dels seva aquest ha estat entre ja sobre",
        "sq": "dhe në të një për me nga është si më po ka do kjo këtë e",
        "af": "hy het gesê dat hulle nie baie oor die saak sal word nie en ons teen dit wees",
        "cy": "mae yn y tŷ ar ei ben ond wedi bod yn gan am fod hefyd yr oedd wrth hyn",
        "so": "waxaa iyo oo ka ku ay waa uu loo soo kale laga ayaa inuu dhan",
        "tl": "ang mga bata ay nasa parke at hindi sila aalis mula sa kanilang bahay ngunit din siya ito na ng sa",
    }
    for code, text in samples.items():
        assert heuristic_language(text) == code, (code, heuristic_language(text))


def test_golden_lang_spot_checks():
    """Detected language for real golden pages across scripts (the
    extract stage's fallback heuristic; html-lang declaration wins in
    production, so this exercises the detector itself on plaintext)."""
    import datetime

    from fundus_spark.kernel import run_extraction
    from fundus_spark.kernel.lang import heuristic_language
    from fundus_spark.rules import REGISTRY

    from .golden import iter_golden_cases

    expected = {
        "jp.AsahiShimbun": "ja",
        "cn.People": "zh",
        "kr.MBN": "ko",
        "ru.Kommersant": "ru",
        "ua.Pravda": "ru",  # the golden snapshot is Pravda's Russian-language edition
        "il.IsraelNachrichten": "de",  # German-language Israeli paper
        "vn.VnExpress": "vi",  # the golden snapshot is the Vietnamese edition
        "pt.ThePortugalNews": "en",  # English-language Portuguese paper
        "pl.Rzeczpospolita": "pl",
        "cz.SeznamZpravy": "cs",
        "tr.NTVTR": "tr",
        "se.Aftonbladet": "sv",
        "dk.JyllandsPosten": ("da", "no"),  # da/no function words overlap heavily
        "gl.Sermitsiaq": ("da", "no"),  # Sermitsiaq's golden article is the Danish edition
    }
    seen = {}
    for case in iter_golden_cases():
        if case.publisher_key in expected and case.publisher_key not in seen:
            extraction = run_extraction(
                REGISTRY[case.publisher_key], case.html, case.crawl_date, error_handling="suppress"
            )
            body = extraction.get("body")
            if not body:
                continue
            from fundus_spark.kernel.body import body_to_plaintext

            seen[case.publisher_key] = heuristic_language(body_to_plaintext(body))
    for key, lang in expected.items():
        allowed = lang if isinstance(lang, tuple) else (lang,)
        assert seen.get(key) in allowed, f"{key}: expected {allowed}, got {seen.get(key)}"


def test_dom_implied_body_p_for_head_text():
    """libxml2: text in head context implies body + a synthesized <p>
    that stays open over following comments/scripts (probed against
    libxml2.so; Publico/Postillon goldens depend on it)."""
    doc = parse_html("<html><head><script>x</script></head>hello<!--c--><script>s</script><div>d</div></html>")
    body = XPath("//body")(doc)[0]
    p = body.children[0]
    assert p.tag == "p"
    assert p.text == "hello"
    assert [getattr(c, "tag", "#c") for c in p.children] == ["#comment", "script"]
    assert body.children[1].tag == "div"


def test_dom_long_whitespace_run_counts_as_content():
    """A whitespace run >= 1000 chars in head context also implies
    body+p (libxml2 chunks char data at 1000 bytes)."""
    doc = parse_html("<html><head><script>x</script>" + " " * 1500 + "<!--c--><body><div>d</div></body></html>")
    body = XPath("//body")(doc)[0]
    assert body.children[0].tag == "p"
    # short whitespace stays ignorable
    doc2 = parse_html("<html><head><script>x</script>   <!--c--><body><div>d</div></body></html>")
    body2 = XPath("//body")(doc2)[0]
    assert body2.children[0].tag == "div"


def test_dom_noscript_in_head_nests_children():
    """All children of an open head <noscript> nest inside it — an img
    there must NOT imply body (LaVanguardia golden)."""
    doc = parse_html(
        "<html><head><title>t</title><noscript><img src='x'><link href='y'></noscript>"
        "<meta name='k' content='v'></head><body><div>d</div></body></html>"
    )
    nos = XPath("//noscript")(doc)[0]
    assert nos.getparent().tag == "head"
    assert [c.tag for c in nos.children] == ["img", "link"]
    meta = XPath("//meta")(doc)[0]
    assert meta.getparent().tag == "head"


def test_dom_empty_tag_model():
    """Golden-corpus-fitted empty-tag semantics: HTML4-known <div/>
    stays open (nests siblings); unknown <source/> is childless."""
    doc = parse_html("<html><body><div/><span>s</span></body></html>")
    div = XPath("//div")(doc)[0]
    assert [c.tag for c in div.children] == ["span"]
    doc2 = parse_html("<html><body><picture><source srcset='a'/><img src='b'></picture></body></html>")
    src = XPath("//source")(doc2)[0]
    assert src.children == []
    img = XPath("//img")(doc2)[0]
    assert img.getparent().tag == "picture"


def test_fragment_keeps_leading_text():
    """Documented deviation vs lxml.html.fromstring: bare leading text
    survives as a synthesized <p> child (implied-body rule), never as
    wrapper .text — content-equal either way (transform._fragment)."""
    from fundus_spark.kernel.transform import _fragment

    el = _fragment("text<div>a</div>")
    assert el.text_content() == "texta"
    el = _fragment("lead <b>bold</b> tail")
    assert el.text_content() == "lead bold tail"


def test_ld_positional_index_over_union():
    """'(//A | //B)[1]' = first match of the union — the index suffix
    must combine with the parenthesized-union handling (ADVICE r2)."""
    ld = LinkedData(
        [
            {"@type": "NewsArticle", "headline": "N1"},
            {"@type": "Article", "headline": "A1"},
        ]
    )
    assert ld.xpath_search("(//NewsArticle/headline | //Article/headline)[1]", scalar=True) == "N1"
    assert ld.xpath_search("(//Missing/x | //Article/headline)[1]", scalar=True) == "A1"
    # plain indexed path still works
    assert ld.xpath_search("(//Article/headline)[1]", scalar=True) == "A1"


def test_vietnamese_detection_case_insensitive():
    from fundus_spark.kernel.lang import heuristic_language

    lower = "hôm nay trời đẹp chúng tôi đi công viên với bạn bè rất vui vẻ và hạnh phúc"
    assert heuristic_language(lower) == "vi"
    assert heuristic_language(lower.upper()) == "vi"


def test_pravda_fallback_date_branch():
    """ua.Pravda's secondary date path (reference: dateparser.parse on
    the byline; ours: uk/ru month map). The golden exercises only the
    primary LD path, so this synthetic fixture forces the fallback and
    asserts the exact datetimes dateparser.parse() returns for these
    byline strings (values computed offline once and pinned)."""
    import datetime

    from fundus_spark.kernel import run_extraction
    from fundus_spark.rules import REGISTRY

    spec = REGISTRY["ua.Pravda"]

    def fixture(byline):
        return (
            "<html lang='uk'><head><title>t</title></head><body>"
            "<article class='post'>"
            f"<div class='post_article_author'>{byline}</div>"
            "<p>Перший абзац тексту статті про подію.</p>"
            "</article></body></html>"
        )

    cases = [
        # dateparser.parse("Субота, 17 травня 2024, 14:05")
        ("Субота, 17 травня 2024, 14:05", datetime.datetime(2024, 5, 17, 14, 5)),
        # dateparser.parse("3 сентября 2023") -> midnight
        ("3 сентября 2023", datetime.datetime(2023, 9, 3, 0, 0)),
        # dateparser.parse("1 лютого 2025, 08:09")
        ("1 лютого 2025, 08:09", datetime.datetime(2025, 2, 1, 8, 9)),
    ]
    for byline, want in cases:
        out = run_extraction(spec, fixture(byline), datetime.datetime(2025, 2, 4))
        assert out["publishing_date"] == want, (byline, out["publishing_date"])


def test_media_header_roundtrip():
    """Pure-Python media builders parse back to their construction
    parameters (BMP/PNG/GIF/WAV header decode, kernel/media.py)."""
    from fundus_spark.kernel.media import build_bmp, build_png, build_wav, parse_media_header

    h = parse_media_header(build_bmp(17, 9))
    assert (h.format, h.width, h.height) == ("bmp", 17, 9)
    h = parse_media_header(build_png(64, 48))
    assert (h.format, h.width, h.height) == ("png", 64, 48)
    h = parse_media_header(build_wav(8000, rate=8000, channels=1))
    assert (h.format, h.duration_ms, h.sample_rate, h.n_channels) == ("wav", 1000, 8000, 1)
    h = parse_media_header(build_wav(4000, rate=16000, channels=2))
    assert (h.format, h.duration_ms) == ("wav", 250)
    assert parse_media_header(b"GIF89a" + bytes([13, 0, 7, 0]) + b"\x00" * 8).width == 13
    assert parse_media_header(b"not a media file at all") is None
    assert parse_media_header(b"") is None


def test_mp3_frame_header_walk():
    """MPEG audio frame-header walk (round 6, kernel/media.py): real
    duration/bitrate/sample-rate from pure bit math over the 4-byte
    frame headers — no audio decode. Covers MPEG-1 (1152 samples/frame)
    and MPEG-2 (576), the alternating padding bit (variable frame
    length), an ID3v2 prefix, a non-integer-ms rate (44.1 kHz), VBR
    accumulation across bitrate changes, and the refusal paths."""
    from fundus_spark.kernel.media import build_mp3, parse_media_header

    # MPEG-1 Layer III @ 32 kHz: 1152/32000 = exactly 36 ms per frame
    h = parse_media_header(build_mp3(5, version=1, rate=32000, bitrate=64000, seed=9))
    assert (h.format, h.duration_ms, h.sample_rate, h.n_frames, h.n_channels) == ("mp3", 180, 32000, 5, 1)
    # MPEG-2 @ 24 kHz with ID3v2 prefix: 576/24000 = exactly 24 ms
    h = parse_media_header(build_mp3(4, version=2, rate=24000, bitrate=48000, seed=9, id3=True))
    assert (h.format, h.duration_ms, h.sample_rate, h.n_frames) == ("mp3", 96, 24000, 4)
    # 44.1 kHz is not integer-ms per frame: 3 * 1152000/44100 = 78.37 -> 78
    h = parse_media_header(build_mp3(3, version=1, rate=44100, bitrate=128000))
    assert (h.duration_ms, h.sample_rate) == (78, 44100)
    # VBR: the walk accumulates per-frame samples/rate across a bitrate
    # change mid-stream (two concatenated CBR runs)
    vbr = build_mp3(2, rate=32000, bitrate=64000) + build_mp3(3, rate=32000, bitrate=96000)
    h = parse_media_header(vbr)
    assert (h.n_frames, h.duration_ms) == (5, 180)
    # refusals: free-format bitrate index, reserved version bits, a
    # syncsafe-violating ID3 size, and a truncated final frame
    assert parse_media_header(b"\xff\xfb\x00\xc0" + b"\x00" * 20) is None
    assert parse_media_header(b"\xff\xeb\x90\xc0" + b"\x00" * 20) is None
    assert parse_media_header(b"ID3\x04\x00\x00\x00\x00\x00\xff" + b"\x00" * 20) is None
    whole = build_mp3(1, version=1, rate=32000, bitrate=64000)
    assert parse_media_header(whole[:-1] + b"") is None  # frame cut short


def test_h264_sps_roundtrip():
    """From-scratch H.264 SPS codec (round 6, kernel/h264.py): the
    High-monochrome builder's Exp-Golomb bit stream parses back to the
    exact requested dimensions — odd ones included, via 4:0:0 1x1 crop
    units — and a hand-built 4:2:0 Baseline SPS exercises the 2x2 crop
    units and the profile branch WITHOUT the chroma/bit-depth block."""
    from fundus_spark.kernel.h264 import (
        _BitWriter,
        build_sps,
        insert_emulation_prevention,
        parse_sps,
        strip_emulation_prevention,
    )

    for w, h in [(1, 1), (16, 16), (17, 17), (33, 21), (64, 48), (1920, 1080), (4095, 33)]:
        p = parse_sps(build_sps(w, h))
        assert (p["width"], p["height"], p["profile_idc"], p["frame_mbs_only"]) == (w, h, 100, 1)
    # Baseline (profile 66) 4:2:0 1920x1088-coded with crop_bottom=4
    # chroma units (CropUnitY = 2): height = 68*16 - 2*4 = 1080
    w = _BitWriter()
    w.u(66, 8).u(0, 8).u(40, 8)
    w.ue(0)  # sps_id (no chroma block for Baseline)
    w.ue(0)  # log2_max_frame_num_minus4
    w.ue(2)  # pic_order_cnt_type
    w.ue(1)  # max_num_ref_frames
    w.u(0, 1)
    w.ue(119).ue(67)  # 1920x1088 in macroblocks
    w.u(1, 1).u(1, 1)  # frame_mbs_only, direct_8x8
    w.u(1, 1)
    w.ue(0).ue(0).ue(0).ue(4)  # crop bottom 4 * CropUnitY(2) = 8 samples
    w.u(0, 1)  # vui absent
    p = parse_sps(b"\x67" + insert_emulation_prevention(w.rbsp_trailing()))
    assert (p["width"], p["height"], p["profile_idc"]) == (1920, 1080, 66)
    # emulation-prevention inverse holds on adversarial zero runs
    for data in (b"\x00\x00\x00\x00", b"\x00\x00\x01\x02", b"\x00\x00\x03\x00\x00\x02", b""):
        assert strip_emulation_prevention(insert_emulation_prevention(data)) == data
    # refusals: empty, wrong NAL type, forbidden bit, truncated stream
    assert parse_sps(b"") is None
    assert parse_sps(b"\x68\x64\x00\x0a\x80") is None
    assert parse_sps(b"\xe7\x64\x00\x0a\x80") is None
    assert parse_sps(build_sps(33, 21)[:4]) is None


def test_mp4_box_walk():
    """ISO-BMFF walk (round 6, kernel/media.py): duration from mvhd,
    frame count/period from stts, and coded dimensions from the avcC
    SPS — all structural math. Covers odd dimensions, 64-bit
    largesize boxes, the text-that-says-ftyp false positive, and
    truncation refusal."""
    import struct

    from fundus_spark.kernel.media import build_mp4, parse_media_header

    h = parse_media_header(build_mp4(33, 21, 4, seed=7))
    assert (h.format, h.width, h.height, h.duration_ms, h.n_frames, h.frame_ms) == (
        "mp4", 33, 21, 160, 4, 40,
    )
    h = parse_media_header(build_mp4(64, 48, 7, frame_ms=20))
    assert (h.width, h.height, h.duration_ms, h.frame_ms) == (64, 48, 140, 20)
    # 64-bit largesize ftyp box still walks
    p = build_mp4(19, 11, 3)
    ftyp_len = int.from_bytes(p[:4], "big")
    big = struct.pack(">I", 1) + b"ftyp" + struct.pack(">Q", 16 + ftyp_len - 8) + p[8:ftyp_len] + p[ftyp_len:]
    h = parse_media_header(big)
    assert (h.width, h.height) == (19, 11)
    # strict: document text with accidental 'ftyp' at bytes 4:8 has no
    # moov/mvhd -> honest None, not a fabricated video row
    assert parse_media_header(b"abcdftyp plain document text " * 4) is None
    assert parse_media_header(build_mp4(33, 21, 4)[:40]) is None


def test_media_features_unknown_container_is_honest_null():
    """Round-6 contract (round-5 verdict #6): an unrecognized container
    yields NULL format/width/height/duration and decoded=False — never
    the old digest-derived fake dimensions a stats pipeline could
    mistake for real data."""
    from fundus_spark.kernel.media import build_bmp
    from fundus_spark.operators.multimodal import FEATURE_SCHEMA, _feature_rows

    rows = [
        (1, "image", b"definitely not a media container, long enough to sniff"),
        (2, "image", build_bmp(5, 4)),
    ]
    out = {r[0]: dict(zip(FEATURE_SCHEMA.fieldNames(), r)) for r in _feature_rows(iter(rows))}
    unknown = out[1]
    assert not unknown["decoded"]
    # missing values are None, which the Arrow boundary writes as NULL
    assert unknown["format"] is None and unknown["width"] is None and unknown["height"] is None
    known = out[2]
    assert known["decoded"] and known["format"] == "bmp" and known["width"] == 5 and known["height"] == 4


def test_robots_matcher_rfc9309():
    """RFC 9309 semantics the reference's `robots` package implements:
    longest-match precedence, allow wins ties, * and $ patterns,
    most-specific user-agent group, crawl-delay per group."""
    from fundus_spark.kernel.robots import RobotsMatcher

    m = RobotsMatcher(
        """
User-agent: *
Disallow: /private/
Allow: /private/ok
Crawl-delay: 3

User-agent: SpecialBot
Disallow: /
Allow: /public$
"""
    )
    assert m.can_fetch("FundusBot", "https://x.example/open/page")
    assert not m.can_fetch("FundusBot", "https://x.example/private/page")
    # longest match: Allow /private/ok (11) beats Disallow /private/ (9)
    assert m.can_fetch("FundusBot", "https://x.example/private/ok/page")
    assert m.crawl_delay("FundusBot") == 3.0
    # most-specific agent group
    assert not m.can_fetch("SpecialBot/1.0", "https://x.example/anything")
    assert m.can_fetch("SpecialBot/1.0", "https://x.example/public")  # $ anchor
    assert not m.can_fetch("SpecialBot/1.0", "https://x.example/public/sub")
    assert m.crawl_delay("SpecialBot/1.0") is None

    # wildcard patterns + tie -> allow wins
    w = RobotsMatcher("User-agent: *\nDisallow: /*.pdf$\nAllow: /ok/*.pdf$\n")
    assert not w.can_fetch("A", "https://x.example/doc.pdf")
    assert w.can_fetch("A", "https://x.example/ok/doc.pdf")
    assert w.can_fetch("A", "https://x.example/doc.pdfx")  # $ must anchor
    t = RobotsMatcher("User-agent: *\nDisallow: /page\nAllow: /page\n")
    assert t.can_fetch("A", "https://x.example/page")  # exact tie -> allow

    # no groups / empty text -> allow all, no delay
    e = RobotsMatcher("")
    assert e.can_fetch("A", "https://x.example/anything")
    assert e.crawl_delay("A") is None
    # empty Disallow: records no rule (allow-all group)
    n = RobotsMatcher("User-agent: *\nDisallow:\n")
    assert n.can_fetch("A", "https://x.example/private/x")


def test_bpe_split_pattern_vs_whitespace():
    """The BPE-ish pre-tokenizer splits contractions, punctuation runs,
    and digit runs that whitespace tokenization lumps together."""
    import re

    from fundus_spark.operators.textstats import BPE_SPLIT_PATTERN

    def count(t):
        return len(re.findall(BPE_SPLIT_PATTERN, t))

    assert count("hello world") == 2
    assert count("don't stop") == 3  # don | 't | " stop"
    assert count("it's 2024, really!") == 6  # it | 's | " 2024" | , | " really" | !
    assert count("a-b") == 3  # a | - | b


def test_language_breadth_round3():
    """Round-3 detector breadth: Devanagari script (hi) and the
    remaining publisher-corpus Latin languages (sw, ms/id and zu/xh
    sibling pairs resolved by divergent cognate markers)."""
    from fundus_spark.kernel.lang import heuristic_language

    assert heuristic_language("आज मौसम अच्छा है हम दोस्तों के साथ पार्क जा रहे हैं और खुश हैं") == "hi"
    assert (
        heuristic_language(
            "habari ya leo ni kwamba watu wengi katika mji huu wanataka amani lakini pia maendeleo ya nchi yake"
        )
        == "sw"
    )
    assert (
        heuristic_language(
            "kerajaan berkata anda boleh memohon selepas tarikh itu kerana proses telah bermula dan ini untuk semua pejabat"
        )
        == "ms"
    )
    assert (
        heuristic_language(
            "pemerintah mengatakan anda bisa mendaftar setelah tanggal itu karena proses sudah dimulai dan ini untuk semua kantor"
        )
        == "id"
    )
    assert (
        heuristic_language(
            "abantu abaningi bathi ukuthi lokhu kubalulekile futhi uma singasebenza kanye ngoba isikhathi sifikile manje lapho"
        )
        == "zu"
    )
    assert (
        heuristic_language(
            "abantu abaninzi bathi ukuba oku kubalulekile kwaye xa singasebenza kunye ngoba ixesha lifikile ngoku apha"
        )
        == "xh"
    )


def test_warc_reader_robustness():
    """From-scratch WARC reader: multi-member gzip, response filter,
    charset fallback, truncated-tail tolerance (kernel/warc.py)."""
    from fundus_spark.kernel.warc import build_warc, iter_warc_records, warc_response_records

    recs = [("https://a.example/1", "2024-01-02T00:00:00Z", "héllo wörld")]
    data = build_warc(recs)
    got = warc_response_records(data)
    assert [(r.target_uri, r.body) for r in got] == [("https://a.example/1", "héllo wörld")]
    # truncated tail ends iteration, no raise
    assert len(warc_response_records(data + b"WARC/1.0\r\ngarbage")) == 1
    # non-response records are filtered but iterated
    meta = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\nabcd\r\n\r\n"
    )
    both = meta + build_warc(recs, compress=False)
    assert len(list(iter_warc_records(both))) == 2
    assert len(warc_response_records(both)) == 1
    # bad declared charset degrades to replacement decoding
    bad = build_warc(recs, compress=False).replace(b"charset=utf-8", b"charset=bogus")
    assert warc_response_records(bad)[0].body is not None
    assert warc_response_records(b"") == []


def test_doc_html_python_twin_lockstep():
    """py_doc_to_html must equal the Column template byte-for-byte
    (warc_gen builds payloads through the python twin)."""
    from fundus_spark.sources.doc_html import py_doc_to_html

    html = py_doc_to_html(7, "text body")
    assert html.startswith("<!DOCTYPE html><html lang='en'>")
    assert "Document 7" in html and "Author 2" in html and "2024-01-08T00:00:00+00:00" in html


def test_media_pixel_decode_round_trips():
    """Round 4 real decode: BMP/PNG pixels and WAV PCM round-trip the
    builders' closed-form content exactly (incl. BMP row padding and
    bottom-up storage)."""
    from fundus_spark.kernel.media import (
        build_bmp,
        build_png,
        build_wav,
        decode_image_luma,
        decode_wav_samples,
        resize_nearest,
        synthetic_luma,
        synthetic_sample,
    )

    for w, h in ((5, 4), (1, 1), (64, 48), (3, 7)):
        want = [[synthetic_luma(9, x, y) for x in range(w)] for y in range(h)]
        assert decode_image_luma(build_bmp(w, h, seed=9)) == want, ("bmp", w, h)
        assert decode_image_luma(build_png(w, h, seed=9)) == want, ("png", w, h)

    assert decode_wav_samples(build_wav(100, seed=3)) == [synthetic_sample(3, i) for i in range(100)]
    # stereo: first channel decoded
    assert decode_wav_samples(build_wav(50, channels=2, seed=3)) == [
        synthetic_sample(3, i) for i in range(50)
    ]

    # nearest-neighbor floor grid
    grid = [[1, 2, 3, 4], [5, 6, 7, 8], [9, 10, 11, 12], [13, 14, 15, 16]]
    assert resize_nearest(grid, 2, 2) == [[1, 3], [9, 11]]
    assert resize_nearest(grid, 4, 4) == grid


def test_png_unfilter_all_filter_types():
    """The decoder must invert every PNG scanline filter (0-4), not
    just the filter-0 stream our builder emits: forward-filter a known
    image per spec in the test, then assert the decoder recovers it."""
    import binascii
    import struct
    import zlib

    from fundus_spark.kernel.media import decode_image_luma

    w, h = 6, 5
    truth = [[(3 * x * x + 7 * y + x * y) % 256 for x in range(w)] for y in range(h)]

    def fwd(ftype, line, prev):
        out = bytearray([ftype])
        for i, v in enumerate(line):
            a = line[i - 1] if i >= 1 else 0
            b = prev[i]
            c = prev[i - 1] if i >= 1 else 0
            if ftype == 0:
                out.append(v)
            elif ftype == 1:
                out.append((v - a) & 0xFF)
            elif ftype == 2:
                out.append((v - b) & 0xFF)
            elif ftype == 3:
                out.append((v - ((a + b) >> 1)) & 0xFF)
            else:  # 4 Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out.append((v - pred) & 0xFF)
        return bytes(out)

    raw = b""
    prev = [0] * w
    for y in range(h):
        raw += fwd(y % 5, truth[y], prev)  # exercise every filter type
        prev = truth[y]

    def chunk(ctype, data):
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(
            ">I", binascii.crc32(ctype + data) & 0xFFFFFFFF
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert decode_image_luma(png) == truth


def test_png_rgb_decode_first_channel():
    """Color-type-2 (RGB) PNG: luma = channel 0 (R)."""
    import binascii
    import struct
    import zlib

    from fundus_spark.kernel.media import decode_image_luma

    w, h = 3, 2
    rgb = [[(10 * x + y, 99, 7) for x in range(w)] for y in range(h)]
    raw = b"".join(
        b"\x00" + bytes(v for px in row for v in px) for row in rgb
    )

    def chunk(ctype, data):
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(
            ">I", binascii.crc32(ctype + data) & 0xFFFFFFFF
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert decode_image_luma(png) == [[10 * x + y for x in range(w)] for y in range(h)]


def test_avi_header_and_frame_decode_round_trip():
    """AVI (RIFF): real header metadata and real uncompressed-DIB frame
    decode round-trip the builder's closed-form content."""
    from fundus_spark.kernel.media import (
        build_avi,
        decode_avi_frames,
        parse_media_header,
        synthetic_luma,
    )

    payload = build_avi(7, 5, n_frames=4, frame_ms=40, seed=13)
    header = parse_media_header(payload)
    assert header.format == "avi"
    assert (header.width, header.height) == (7, 5)
    assert header.n_frames == 4 and header.frame_ms == 40
    assert header.duration_ms == 160

    frames = decode_avi_frames(payload)
    assert len(frames) == 4
    for f, rows in enumerate(frames):
        assert rows == [[synthetic_luma(13 + 11 * f, x, y) for x in range(7)] for y in range(5)]

    # compressed stream fourcc -> None (the codec boundary)
    assert decode_avi_frames(payload.replace(b"00db", b"00dc")) is None


def test_gif_lzw_hand_derived_vector():
    """Pin the GIF LZW bit convention independent of our own encoder:
    indices [1,1,1,1] at min_code=2 encode (derived by hand per the
    spec) to codes [clear=4, 1, 6, 1, end=5] — the '6' is the KwKwK
    case, the '1' after it is read at 3 bits while end is read at 4
    (the decoder bumps after table entry 7) — packing LSB-first to
    bytes 0x8C 0x53."""
    from fundus_spark.kernel.media import _lzw_decode, _lzw_encode

    assert _lzw_decode(b"\x8c\x53", 2, 4) == [1, 1, 1, 1]
    assert _lzw_encode([1, 1, 1, 1], 2) == b"\x8c\x53"


def test_gif_decode_round_trip():
    from fundus_spark.kernel.media import (
        build_gif,
        decode_image_luma,
        parse_media_header,
        synthetic_luma,
    )

    for w, h in ((5, 4), (1, 1), (64, 48), (13, 9)):
        payload = build_gif(w, h, seed=21)
        header = parse_media_header(payload)
        assert header.format == "gif" and (header.width, header.height) == (w, h)
        want = [[synthetic_luma(21, x, y) for x in range(w)] for y in range(h)]
        assert decode_image_luma(payload) == want, (w, h)
        # interlaced storage must decode to the same image
        assert decode_image_luma(build_gif(w, h, seed=21, interlaced=True)) == want, ("ilace", w, h)


def test_decode_refuses_what_it_cannot_decode_correctly():
    """Review-pass regressions, round-5 revision: the two streams this
    test originally pinned as REFUSED (Adam7 PNG, partial-screen GIF)
    now decode CORRECTLY — the contract stays "never silently-wrong
    pixels", so the assertions moved from is-None to exact values."""
    import binascii
    import struct
    import zlib

    from fundus_spark.kernel.media import build_gif, decode_image_luma

    # Adam7-interlaced PNG: a sequential-layout byte stream stored
    # under interlace=1 must NOT be decoded as if sequential — the
    # decoder reads it as Adam7 passes of the same bytes, which for
    # this hand-built stream is simply a SHORT stream (the pass layout
    # needs more bytes than 8 plain scanlines) -> refused
    def chunk(ctype, data):
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(
            ">I", binascii.crc32(ctype + data) & 0xFFFFFFFF
        )

    w = h = 8
    raw = b"".join(b"\x00" + bytes([y] * w) for y in range(h))
    interlaced_png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1))  # interlace=1
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert decode_image_luma(interlaced_png) is None  # short for Adam7 layout

    # GIF whose first frame covers only part of the logical screen now
    # composes onto the background color instead of refusing: the
    # 4x4 frame sits at (0, 0) of the inflated 100x100 screen and the
    # rest is background index 0 -> luma 0
    from fundus_spark.kernel.media import synthetic_luma

    small = build_gif(4, 4, seed=5)
    partial = bytearray(small)
    struct.pack_into("<HH", partial, 6, 100, 100)  # inflate the screen
    got = decode_image_luma(bytes(partial))
    assert got is not None and len(got) == 100 and len(got[0]) == 100
    assert all(got[y][x] == synthetic_luma(5, x, y) for y in range(4) for x in range(4))
    assert got[50][50] == 0 and got[4][4] == 0


def test_lzw_wide_symbols_round_trip():
    """min_code > 8 means symbols above 255 — the encoder's int table
    key must not collide (review finding: an 8-bit symbol shift did)."""
    from fundus_spark.kernel.media import _lzw_decode, _lzw_encode

    indices = [(i * 37) % 512 for i in range(400)] + [300, 44, 5, 300, 44, 5, 300, 44]
    data = _lzw_encode(indices, 9)
    assert _lzw_decode(data, 9, len(indices)) == indices


def test_jpeg_block_constant_exact_round_trip():
    """The oracle contract: constant 8x8 blocks survive the lossy DCT
    path bit-exactly (DC-only spectrum, flat Q=8 quantizes the DC to
    the exact level-shifted value) — across every flavor the encoder
    emits: 3-component 4:4:4, 4:2:0, grayscale, restart markers."""
    from fundus_spark.kernel.jpeg import build_jpeg, decode_jpeg_luma, parse_jpeg_header
    from fundus_spark.kernel.media import decode_image_luma, parse_media_header

    for seed, w, h in ((7, 16, 16), (123, 37, 29), (0, 1, 1), (255, 64, 48), (42, 8, 9)):
        want = [[(seed + 3 * (x // 8) + 7 * (y // 8)) % 256 for x in range(w)] for y in range(h)]
        for kwargs in (
            {},
            {"subsampling": (2, 2)},
            {"gray": True},
            {"restart_interval": 2},
        ):
            p = build_jpeg(w, h, seed=seed, **kwargs)
            assert parse_jpeg_header(p) == (w, h)
            assert decode_jpeg_luma(p) == want, (seed, w, h, kwargs)
        # and through the generic media dispatch
        p = build_jpeg(w, h, seed=seed)
        hd = parse_media_header(p)
        assert hd.format == "jpeg" and (hd.width, hd.height) == (w, h)
        assert decode_image_luma(p) == want


def test_jpeg_arbitrary_content_bounded_error():
    """The encoder is a real forward DCT pipeline, not a template: on
    arbitrary (non-block-constant) content the round trip is lossy but
    bounded by the flat Q=8 quantizer (worst-case coefficient error
    sum(Q/2 * basis amplitude) stays well under 16 gray levels)."""
    import numpy as np

    from fundus_spark.kernel.jpeg import decode_jpeg_luma, encode_jpeg

    rng = np.random.RandomState(17)
    for w, h in ((31, 24), (8, 8), (17, 9)):
        grid = rng.randint(0, 256, (h, w))
        for kwargs in ({}, {"gray": True}, {"subsampling": (2, 2)}):
            got = np.asarray(decode_jpeg_luma(encode_jpeg(grid, w, h, **kwargs)))
            assert got.shape == (h, w)
            assert np.abs(got - grid).max() <= 16, (w, h, kwargs)


def test_jpeg_refuses_malformed_and_unsupported():
    """Refuse-don't-misdecode: malformed-progressive SOF2, 12-bit
    precision, truncated entropy data, garbage Huffman codes, missing
    tables, and non-JPEG bytes all return None instead of raising or
    producing wrong pixels."""
    import struct

    from fundus_spark.kernel.jpeg import build_jpeg, decode_jpeg_luma, parse_jpeg_header

    good = build_jpeg(16, 16, seed=5)
    assert decode_jpeg_luma(good) is not None

    # truncation at every marker-ish boundary
    for cut in (2, 4, 20, 100, len(good) - 3):
        assert decode_jpeg_luma(good[:cut]) is None, cut

    # MALFORMED progressive: rewriting the SOF0 marker to SOF2 while
    # keeping the baseline full-band scan header (Ss=0, Se=63) is
    # spec-invalid for progressive (a DC scan must have Se=0) — the
    # decoder refuses it rather than guessing (real progressive
    # streams decode; see test_jpeg_progressive_matches_baseline)
    sof_at = good.find(b"\xff\xc0")
    prog = good[:sof_at + 1] + b"\xc2" + good[sof_at + 2:]
    assert decode_jpeg_luma(prog) is None
    assert parse_jpeg_header(prog) == (16, 16)  # geometry still parses

    # 12-bit precision: patch the SOF precision byte
    twelve = bytearray(good)
    twelve[sof_at + 4] = 12
    assert decode_jpeg_luma(bytes(twelve)) is None

    # corrupt entropy data: flip bytes mid-scan
    sos_at = good.find(b"\xff\xda")
    corrupt = bytearray(good)
    for i in range(sos_at + 20, min(sos_at + 28, len(corrupt) - 2)):
        corrupt[i] ^= 0xA5
    # corrupted entropy data must not raise; if it happens to still
    # decode as valid codes, the result is a well-shaped grid
    res = decode_jpeg_luma(bytes(corrupt))
    assert res is None or (len(res) == 16 and len(res[0]) == 16)
    assert decode_jpeg_luma(b"\xff\xd8\xff\xd9") is None
    assert decode_jpeg_luma(b"notjpeg") is None
    assert parse_jpeg_header(b"notjpeg") is None


def test_jpeg_dimension_bomb_refused():
    """A tiny payload declaring giant SOF dimensions must be refused
    before any plane allocation (decompression-bomb bound)."""
    from fundus_spark.kernel.jpeg import build_jpeg, decode_jpeg_luma
    from fundus_spark.kernel.media import MAX_DECODE_PIXELS

    good = bytearray(build_jpeg(16, 16, seed=5))
    sof_at = good.find(b"\xff\xc0")
    # height/width are big-endian u16 at sof_at+5 — 65000x65000
    # overflows MAX_DECODE_PIXELS (64M)
    import struct as _s

    good[sof_at + 5 : sof_at + 9] = _s.pack(">HH", 65000, 65000)
    assert 65000 * 65000 > MAX_DECODE_PIXELS
    assert decode_jpeg_luma(bytes(good)) is None


def test_warc_write_read_round_trip_byte_identical():
    """The writer/reader format loop at kernel level: build_warc ->
    iter_warc_records returns byte-identical bodies (incl. non-ASCII
    UTF-8 and empty bodies), correct Content-Length per member, and
    deterministic bytes (mtime=0 gzip) across rebuilds."""
    from fundus_spark.kernel.warc import build_warc, warc_response_records

    records = [
        ("https://a.example/1", "2024-01-01T00:00:00Z", "hello world"),
        ("https://a.example/2", "2024-02-03T04:05:06Z", "naïve café — 日本語 ünïcode"),
        ("https://b.example/3", "2024-03-01T00:00:00Z", ""),
        ("https://b.example/4", "2024-04-01T00:00:00Z", "x" * 10_000),
    ]
    blob = build_warc(records)
    assert blob == build_warc(records)  # deterministic bytes
    got = warc_response_records(blob)
    assert [(r.target_uri, r.warc_date, r.body) for r in got] == records
    # uncompressed flavor round-trips too
    got_u = warc_response_records(build_warc(records, compress=False))
    assert [(r.target_uri, r.warc_date, r.body) for r in got_u] == records


def test_jpeg_progressive_matches_baseline():
    """Progressive (SOF2) transmits the SAME coefficients as baseline
    in a different scan order, so for any grid the progressive decode
    must be pixel-identical to the baseline decode — across spectral
    selection, full successive approximation (DC + AC refinement
    scans, EOB runs, correction bits), subsampling, grayscale, and
    restart markers. Block-constant content stays bit-exact."""
    import numpy as np

    from fundus_spark.kernel.jpeg import build_jpeg, decode_jpeg_luma, encode_jpeg

    # exactness on block-constant content through every progressive flavor
    for seed, w, h in ((7, 16, 16), (123, 37, 29), (255, 64, 48)):
        want = [[(seed + 3 * (x // 8) + 7 * (y // 8)) % 256 for x in range(w)] for y in range(h)]
        for kwargs in (
            {"progressive": True},
            {"progressive": True, "successive": True},
            {"progressive": True, "successive": True, "subsampling": (2, 2)},
            {"progressive": True, "gray": True},
            {"progressive": True, "successive": True, "restart_interval": 3},
        ):
            assert decode_jpeg_luma(build_jpeg(w, h, seed=seed, **kwargs)) == want, (seed, kwargs)

    # arbitrary content: progressive == baseline, pixel for pixel
    rng = np.random.RandomState(11)
    for w, h in ((31, 24), (17, 9), (40, 33)):
        grid = rng.randint(0, 256, (h, w))
        base = decode_jpeg_luma(encode_jpeg(grid, w, h))
        for kwargs in (
            {"progressive": True},
            {"progressive": True, "successive": True},
            {"progressive": True, "successive": True, "subsampling": (2, 2)},
        ):
            assert decode_jpeg_luma(encode_jpeg(grid, w, h, **kwargs)) == base, (w, h, kwargs)


def test_png_adam7_interlaced_decode():
    """Adam7 (round 5, previously refused): the seven independently
    filtered sub-images reassemble to EXACTLY the sequential pixels —
    including odd sizes where some passes are empty, and a 1-pixel
    image where only pass 1 exists."""
    from fundus_spark.kernel.media import build_png, decode_image_luma, synthetic_luma

    for w, h in ((1, 1), (3, 2), (8, 8), (17, 9), (64, 48), (5, 13), (9, 1), (1, 9)):
        want = [[synthetic_luma(9, x, y) for x in range(w)] for y in range(h)]
        assert decode_image_luma(build_png(w, h, seed=9)) == want, ("seq", w, h)
        assert decode_image_luma(build_png(w, h, seed=9, interlaced=True)) == want, ("adam7", w, h)


def test_gif_partial_screen_frame_composes_onto_background():
    """A first frame smaller than the logical screen (the animation
    shape; round 5, previously refused) composes onto the background
    color at its (left, top) offset; out-of-bounds frames and
    truncated LZW streams are refused, not clipped."""
    from fundus_spark.kernel.media import build_gif, decode_image_luma, synthetic_luma

    got = decode_image_luma(
        build_gif(12, 10, seed=5, frame_box=(3, 2, 6, 4), background=77)
    )
    assert got is not None and len(got) == 10 and len(got[0]) == 12
    for y in range(10):
        for x in range(12):
            if 3 <= x < 9 and 2 <= y < 6:
                assert got[y][x] == synthetic_luma(5, x - 3, y - 2), (x, y)
            else:
                assert got[y][x] == 77, (x, y)

    # interlaced partial frame composes identically
    got_i = decode_image_luma(
        build_gif(12, 10, seed=5, frame_box=(3, 2, 6, 4), background=77, interlaced=True)
    )
    assert got_i == got

    # a frame that overflows the screen is malformed -> refused
    assert decode_image_luma(build_gif(12, 10, seed=5, frame_box=(9, 8, 6, 4))) is None

    # truncated pixel stream -> refused (not a short grid)
    full = build_gif(12, 10, seed=5)
    truncated = full[: len(full) // 2] + b"\x00\x3b"
    assert decode_image_luma(truncated) is None


def test_bmp_rle8_and_palette_decode():
    """Compressed BMP (round 5, previously refused): BI_RLE8 with a
    palette decodes exactly — repeat pairs, literal runs (word-
    aligned), end-of-line/bitmap escapes, bottom-up rows; malformed
    streams (overflowing runs, missing EOF escape, out-of-palette
    indices) are refused."""
    import struct

    from fundus_spark.kernel.media import build_bmp_rle8, decode_image_luma, synthetic_luma

    for w, h in ((1, 1), (5, 4), (17, 9), (64, 48)):
        want = [[synthetic_luma(9, x, y) for x in range(w)] for y in range(h)]
        assert decode_image_luma(build_bmp_rle8(w, h, seed=9)) == want, (w, h)

    good = build_bmp_rle8(8, 4, seed=3)
    # truncate before the end-of-bitmap escape -> refused
    assert decode_image_luma(good[:-2]) is None
    # corrupt a run count so a row overflows -> refused
    bad = bytearray(good)
    (data_offset,) = struct.unpack_from("<I", bad, 10)
    bad[data_offset] = 255  # first repeat count > width
    assert decode_image_luma(bytes(bad)) is None


def test_mp4_mdhd_after_minf_still_yields_frame_schedule():
    """Round-7 ADVICE regression: ISO-BMFF does not mandate child order
    inside mdia — a legal file with mdhd AFTER minf used to lose
    frame_ms (timescale read in the same sequential pass that needed it
    earlier). Byte-surgery reorder of the generated file must parse
    identically."""
    from fundus_spark.kernel.media import _mp4_boxes, build_mp4, parse_media_header

    orig = build_mp4(64, 48, 5, frame_ms=40)
    base = parse_media_header(orig)
    assert base is not None and base.frame_ms == 40

    def find(data, start, end, name):
        for b, s, e in _mp4_boxes(data, start, end):
            if b == name:
                return s, e
        raise AssertionError("missing box %r" % name)

    buf = bytearray(orig)
    ms, me = find(orig, 0, len(orig), b"moov")
    ts, te = find(orig, ms, me, b"trak")
    ds, de = find(orig, ts, te, b"mdia")
    kids = {b: bytes(orig[s - 8 : e]) for b, s, e in _mp4_boxes(orig, ds, de)}
    reordered = kids[b"hdlr"] + kids[b"minf"] + kids[b"mdhd"]
    assert len(reordered) == de - ds
    buf[ds:de] = reordered
    h = parse_media_header(bytes(buf))
    assert h is not None
    assert h.frame_ms == base.frame_ms == 40
    assert h.n_frames == base.n_frames == 5
    assert (h.width, h.height) == (base.width, base.height)


def test_mp4_short_v1_mdhd_is_refused_not_garbage():
    """A version-1 mdhd needs 32+ payload bytes (64-bit times); the
    generator's v0 payload is 24 bytes, so flipping the version byte
    without resizing makes a malformed 24-byte v1 box. The parser must
    refuse the timescale (frame_ms None) instead of int.from_bytes-ing
    a short slice into a garbage rate."""
    from fundus_spark.kernel.media import _mp4_boxes, build_mp4, parse_media_header

    orig = build_mp4(64, 48, 5, frame_ms=40)

    def find(data, start, end, name):
        for b, s, e in _mp4_boxes(data, start, end):
            if b == name:
                return s, e
        raise AssertionError("missing box %r" % name)

    ms, me = find(orig, 0, len(orig), b"moov")
    ts, te = find(orig, ms, me, b"trak")
    ds, de = find(orig, ts, te, b"mdia")
    hs, he = find(orig, ds, de, b"mdhd")
    assert he - hs == 24  # v0 payload the generator writes
    buf = bytearray(orig)
    buf[hs] = 1  # claim version 1 without the 64-bit payload
    h = parse_media_header(bytes(buf))
    assert h is not None
    assert h.frame_ms is None  # refused, not garbage
    assert h.n_frames == 5  # stts still parses
