"""Edge cases of the compiled XPath engine (``kernel/xpath.py``).

Each expression compiles once into closures, and a few shapes get their
own closure: name-test ``child`` steps, ``@name = 'lit'`` and
``@name != 'lit'`` tests, order-free predicate filters and numeric
position predicates. These cases sit on the borders of those shapes;
the expected node lists are what the tree-walking interpreter the
compiler replaced returned on the same documents.
"""

from __future__ import annotations

from pathlib import Path

from fundus_spark.kernel import XPath, parse_html
from fundus_spark.kernel.xpath import AttrNode, TextNode

_DOC = (
    "<html><body>"
    "<div id='d1' x='v'><p id='a' class='a'>one</p><!--c--><p id='b' class='b'>two</p>"
    "<p id='c' class='a'>three</p></div>"
    "<section id='s' x='w'><p id='d' class='a'>  four\n <b>bold</b> </p><p id='e'>five</p></section>"
    "<p id='f'>six</p>"
    "</body></html>"
)


def _ids(nodes):
    return [n.get("id") for n in nodes]


def _run(expr, context=None):
    return XPath(expr)(parse_html(_DOC) if context is None else context)


def test_parenthesized_union_without_predicates_takes_a_path_tail():
    assert _ids(_run("(//div | //section)/p")) == ["a", "b", "c", "d", "e"]
    assert _ids(_run("(//section | //div)/p[1]")) == ["a", "d"]
    assert [b.text for b in _run("(//div | //section)//b")] == ["bold"]
    assert _ids(_run("(//section | //div)")) == ["d1", "s"]


def test_attribute_inequality_needs_the_attribute():
    assert _ids(_run("//*[@x != 'v']")) == ["s"]
    assert _ids(_run("//p[@x != 'v']")) == []
    assert _ids(_run("//*[@x = 'v']")) == ["d1"]
    assert len(_run("//*[not(@x = 'v')]")) == 10  # html, body, section and six p's and a b


def test_attribute_equality_with_attribute_or_text_context():
    doc = parse_html(_DOC)
    assert _run("//@id[@x='v']", doc) == []
    assert _run("//p/text()[@x='v']", doc) == []
    assert _run("//p/text()[@x!='v']", doc) == []
    assert [(a.owner.get("id"), a.value) for a in _run("//@x[. = 'v']", doc)] == [("d1", "v")]
    assert [(a.owner.get("id"), a.name) for a in _run("//div/@x[../@x='v']", doc)] == [("d1", "x")]
    attr = _run("//div/@x", doc)[0]
    text = _run("//p[@id='a']/text()", doc)[0]
    assert isinstance(attr, AttrNode) and isinstance(text, TextNode)
    for context in (attr, text):
        assert XPath("self::node()[@x='v']")(context) == []
        assert XPath("self::node()[@x!='w']")(context) == []
        assert XPath("@x='v'")(context) is False
    # comments are elements of the tree but carry no attributes
    assert _ids(_run("//node()[@x='v']", doc)) == ["d1"]
    assert [n.tag for n in _run("//div/node()[not(@x='v')]", doc)] == ["p", "#comment", "p", "p"]


def test_positional_predicate_after_an_attribute_test_counts_per_parent():
    assert _ids(_run("//p[@class='a'][2]")) == ["c"]
    assert _ids(_run("//p[@class='a'][1]")) == ["a", "d"]
    assert _ids(_run("(//p[@class='a'])[2]")) == ["c"]
    assert _ids(_run("//p[2][@class='a']")) == []
    assert _ids(_run("//p[3][@class='a']")) == ["c"]
    assert _ids(_run("//p[1.5]")) == []


def test_last_in_a_nested_step():
    assert _ids(_run("//div[p[last()]/@class='a']")) == ["d1"]
    assert _ids(_run("//*[count(p) > 1]/p[last()]")) == ["c", "e"]
    assert _ids(_run("//p[position() = last()]")) == ["c", "e", "f"]
    assert _ids(_run("//*[p[position() = last() - 1][@class='b']]")) == ["d1"]


def test_union_inside_a_predicate():
    assert _ids(_run("//p[b | @class]")) == ["a", "b", "c", "d"]
    assert _ids(_run("//p[count(b | @class) = 2]")) == ["d"]
    assert _ids(_run("//*[(p | b)[@class='b']]")) == ["d1"]


def test_regex_test_and_normalize_space():
    assert _ids(_run("//p[re:test(., '^t')]")) == ["b", "c"]
    assert _ids(_run("//p[re:test(@class, 'A', 'i')]")) == ["a", "c", "d"]
    assert _ids(_run("//p[re:test(string(), 'O')]")) == []
    assert _ids(_run("//p[normalize-space() = 'four bold']")) == ["d"]
    assert _ids(_run("//p[normalize-space(text()) = 'four']")) == ["d"]
    assert _run("normalize-space(//p[@id='d'])") == "four bold"
    assert _run("string-length(normalize-space(//p[@id='d']))") == 9.0
    assert [t.value for t in _run("re:match(//p[@id='c'], 't(h)(x)?r')")] == ["thr", "h"]


def test_xpath_has_one_engine():
    """The expression is compiled once into closures; no interpreter
    that re-dispatches the AST per node sits beside the compiler."""
    src = (Path(__file__).resolve().parents[1] / "fundus_spark" / "kernel" / "xpath.py").read_text()
    assert "_Evaluator" not in src
    assert "def eval(" not in src
