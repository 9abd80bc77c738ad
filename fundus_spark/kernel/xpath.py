"""Compact XPath-subset engine over :mod:`fundus_spark.kernel.dom`.

The reference engine expresses every publisher rule as an lxml
``XPath``/``CSSSelector`` (e.g. reference
``src/fundus/publishers/us/ap_news.py:22-24``). lxml is unavailable
here, so this module implements — from scratch, grammar-first — the
XPath 1.0 subset those rules actually use:

* axes: ``child`` (default), ``descendant-or-self`` (``//``), ``self``,
  ``parent``, ``ancestor``, ``ancestor-or-self``, ``descendant``,
  ``preceding-sibling``, ``following-sibling``, ``attribute`` (``@``)
* node tests: names, ``*``, ``text()``, ``node()``
* predicates with ``and`` / ``or`` / ``not()``, ``=``, ``!=``,
  ``<``, ``>``, ``<=``, ``>=``, numeric position predicates,
  parenthesized paths ``(//p[...])[position() > 1]``, unions ``|``
* functions: ``contains``, ``starts-with``, ``ends-with``,
  ``string``, ``string-length``, ``normalize-space``, ``position``,
  ``last``, ``count``, ``concat``, ``not``, ``boolean``, ``number``,
  ``hasclass`` (extension: CSS class-token match), and EXSLT
  ``re:test`` / ``re:match`` (Python ``re`` semantics, which covers the
  patterns used by publisher rules)

Reverse axes number their positions nearest-first, per spec — relied on
by rules like ``p[not(preceding-sibling::*[1][self::h2 ...])]``.

An expression is parsed and compiled once, in ``XPath.__init__``, into
a tree of closures ``f(node, pos, size)``; a call runs the closures and
never looks at the AST again. A few shapes compile to closures of their
own:

* a name-test ``child`` step compares child tags, and a name-test
  ``descendant(-or-self)`` step compares tags in one preorder walk;
* ``@name = 'lit'`` is one ``attrib.get``, true on a non-comment
  element whose value equals ``lit``; ``@name != 'lit'`` is true only
  when the attribute is there and differs; ``@name`` as a string or a
  boolean reads ``attrib`` directly;
* an order-free predicate (:func:`_is_order_free`) filters with a
  comprehension; ``[k]`` slices; other predicates keep the position
  loop.

An unknown function or a wrong argument count fails at construction;
type errors (a union of non-node-sets, ``count`` of a string) fail
when evaluated.

Results are node lists in document order without duplicates. The order
comes from the walk itself wherever it can: ``//T[preds]`` compiles to
one ``descendant::T[preds]`` step when no predicate depends on position,
and a step taken from a single context node along ``child``, ``self``,
``descendant``, ``descendant-or-self`` or ``following-sibling`` yields
its nodes in document order already. :func:`_document_sort` runs only
where two or more nodes come out of a union, a step from several
context nodes, a reverse axis or an attribute step (attributes order by
name). Attribute hits are returned as :class:`AttrNode`.
"""

from __future__ import annotations

import operator
import re
from typing import Any, Callable, Iterable, List, Optional, Sequence, Tuple, Union

from .dom import Comment, Element

__all__ = ["XPath", "AttrNode", "XPathError", "xpath_string_value"]


class XPathError(ValueError):
    pass


class AttrNode:
    """An attribute node result (``./@alt`` and friends)."""

    __slots__ = ("owner", "name", "value")

    def __init__(self, owner: Element, name: str, value: str):
        self.owner = owner
        self.name = name
        self.value = value

    def __repr__(self) -> str:
        return f"@{self.name}={self.value!r}"


class TextNode:
    """A text node result (``text()``). ``index`` is the node's
    position among its owner's text nodes — document-order sorting
    must NOT fall back to comparing string values."""

    __slots__ = ("owner", "value", "index")

    def __init__(self, owner: Element, value: str, index: int = 0):
        self.owner = owner
        self.value = value
        self.index = index

    def __repr__(self) -> str:
        return f"text({self.value!r})"


XNode = Union[Element, AttrNode, TextNode]

_WS_RE = re.compile(r"[ \t\r\n]+")


def _xpath_normalize_space(s: str) -> str:
    return _WS_RE.sub(" ", s).strip(" \t\r\n")


def xpath_string_value(node: XNode) -> str:
    if isinstance(node, AttrNode):
        return node.value
    if isinstance(node, TextNode):
        return node.value
    if isinstance(node, Comment):
        return node.text or ""
    return node.text_content()


def _doc_order_key(node: XNode) -> Tuple:
    # element child k sits at path slot 2k+1; its owner's text nodes at
    # even slots (leading text -> 0, tail after child k -> 2k+2), so
    # mixed text/element content interleaves in true document order
    if isinstance(node, AttrNode):
        el: Element = node.owner
        extra: Optional[int] = None
        suffix: Tuple = (1, node.name)
    elif isinstance(node, TextNode):
        el = node.owner
        extra = 2 * node.index
        suffix = (2, node.index)
    else:
        el = node
        extra = None
        suffix = (0,)
    key: List[int] = []
    while el.getparent() is not None:
        parent = el.getparent()
        key.append(2 * parent._children.index(el) + 1)  # noqa: SLF001
        el = parent
    path = tuple(reversed(key))
    if extra is not None:
        path = path + (extra,)
    return (path, suffix)


def _document_sort(nodes: Iterable[XNode]) -> List[XNode]:
    seen = set()
    unique: List[XNode] = []
    for n in nodes:
        k = (
            id(n)
            if isinstance(n, Element)
            else (id(n.owner), n.__class__.__name__, getattr(n, "name", None), getattr(n, "index", None), n.value)
        )
        if k not in seen:
            seen.add(k)
            unique.append(n)
    return sorted(unique, key=_doc_order_key)


# --------------------------------------------------------------------------
# Tokenizer
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<number>\d+(\.\d*)?|\.\d+)
  | (?P<string>'[^']*'|"[^"]*")
  | (?P<dslash>//)
  | (?P<slash>/)
  | (?P<dcolon>::)
  | (?P<ddot>\.\.)
  | (?P<name>[A-Za-z_][A-Za-z0-9_.-]*(:[A-Za-z_][A-Za-z0-9_.-]*)?)
  | (?P<op>!=|<=|>=|[=<>|@\[\](),*.+-])
  | (?P<ws>\s+)
    """,
    re.VERBOSE,
)


def _tokenize(expr: str) -> List[Tuple[str, str]]:
    tokens: List[Tuple[str, str]] = []
    pos = 0
    while pos < len(expr):
        m = _TOKEN_RE.match(expr, pos)
        if not m:
            raise XPathError(f"Cannot tokenize XPath at {expr[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        tokens.append((kind, m.group()))  # type: ignore[arg-type]
    tokens.append(("eof", ""))
    return tokens


# --------------------------------------------------------------------------
# AST
# --------------------------------------------------------------------------
# Expressions are tuples: (op, *args). Ops:
#   ("union", [paths]) ("path", absolute, [steps], base_expr|None)
#   ("step", axis, nodetest, [predicates])
#   ("or"/"and", a, b) ("cmp", op, a, b)
#   ("func", name, [args]) ("num", value) ("str", value)

_FORWARD_AXES = {"child", "descendant", "descendant-or-self", "self", "following-sibling", "attribute"}
_REVERSE_AXES = {"parent", "ancestor", "ancestor-or-self", "preceding-sibling"}
_AXES = _FORWARD_AXES | _REVERSE_AXES
# forward axes whose nodes from ONE context come out in document order
# ("attribute" is excluded: its nodes sort by name, not dict order)
_ORDERED_AXES = {"child", "self", "descendant", "descendant-or-self", "following-sibling"}
# functions that always return a boolean, never a number
_BOOLEAN_FUNCS = {"not", "contains", "starts-with", "ends-with", "boolean", "hasclass", "re:test"}


def _mentions_position(ast: Any) -> bool:
    if isinstance(ast, tuple):
        if ast[0] == "func" and ast[1] in ("position", "last"):
            return True
        return any(_mentions_position(a) for a in ast[1:])
    if isinstance(ast, list):
        return any(_mentions_position(a) for a in ast)
    return False


def _is_order_free(predicate: Any) -> bool:
    """True when ``predicate`` keeps a node regardless of its position
    in the candidate list: boolean-valued, and no position()/last()."""
    op = predicate[0]
    boolean = op in ("cmp", "and", "or", "path") or (op == "func" and predicate[1] in _BOOLEAN_FUNCS)
    return boolean and not _mentions_position(predicate)


def _descendant_steps(step: Any) -> List[Any]:
    """``//step`` is ``descendant-or-self::node()/step``; when ``step``
    is ``child::T[preds]`` with position-free predicates the pair selects
    exactly ``descendant::T[preds]``, which one context walks in document
    order. ``//p[1]``, ``//text()`` and ``//@x`` keep the pair."""
    _, axis, nodetest, predicates = step
    if axis == "child" and nodetest[0] in ("name", "any") and all(_is_order_free(p) for p in predicates):
        return [("step", "descendant", nodetest, predicates)]
    return [("step", "descendant-or-self", ("node",), []), step]


class _Parser:
    def __init__(self, expr: str):
        self.expr = expr
        self.tokens = _tokenize(expr)
        self.i = 0

    def peek(self) -> Tuple[str, str]:
        return self.tokens[self.i]

    def next(self) -> Tuple[str, str]:
        tok = self.tokens[self.i]
        self.i += 1
        return tok

    def expect(self, value: str) -> None:
        kind, val = self.next()
        if val != value:
            raise XPathError(f"Expected {value!r}, got {val!r} in {self.expr!r}")

    def at(self, value: str) -> bool:
        return self.peek()[1] == value

    # Expr := OrExpr
    def parse(self) -> Any:
        node = self.parse_or()
        if self.peek()[0] != "eof":
            raise XPathError(f"Trailing tokens at {self.peek()[1]!r} in {self.expr!r}")
        return node

    def parse_or(self) -> Any:
        node = self.parse_and()
        while self.peek() == ("name", "or"):
            self.next()
            node = ("or", node, self.parse_and())
        return node

    def parse_and(self) -> Any:
        node = self.parse_cmp()
        while self.peek() == ("name", "and"):
            self.next()
            node = ("and", node, self.parse_cmp())
        return node

    def parse_cmp(self) -> Any:
        node = self.parse_additive()
        while self.peek()[1] in ("=", "!=", "<", ">", "<=", ">="):
            op = self.next()[1]
            node = ("cmp", op, node, self.parse_additive())
        return node

    def parse_additive(self) -> Any:
        # AdditiveExpr (XPath 1.0 §3.5); '-' standalone only — hyphens
        # inside QNames are consumed by the name token first
        node = self.parse_union()
        while self.peek()[1] in ("+", "-"):
            op = self.next()[1]
            node = ("arith", op, node, self.parse_union())
        return node

    def parse_union(self) -> Any:
        node = self.parse_path_expr()
        paths = [node]
        while self.at("|"):
            self.next()
            paths.append(self.parse_path_expr())
        return node if len(paths) == 1 else ("union", paths)

    def parse_path_expr(self) -> Any:
        kind, val = self.peek()
        if kind == "number":
            self.next()
            return ("num", float(val))
        if kind == "string":
            self.next()
            return ("str", val[1:-1])
        if val == "(":
            self.next()
            inner = self.parse_or()
            self.expect(")")
            # a parenthesized expr may carry predicates and a path tail
            predicates = self.parse_predicates()
            steps, absolute = [], False
            if self.at("/") or self.at("//"):
                steps = self.parse_steps_after_base()
            if predicates or steps:
                return ("path", False, steps, ("filtered", inner, predicates))
            return inner
        if (
            kind == "name"
            and self.tokens[self.i + 1][1] == "("
            and val not in _AXES
            and val not in ("text", "node", "comment")
        ):
            return self.parse_function(val)
        # otherwise: a location path
        return self.parse_location_path()

    def parse_function(self, name: str) -> Any:
        self.next()  # name
        self.expect("(")
        args: List[Any] = []
        if not self.at(")"):
            args.append(self.parse_or())
            while self.at(","):
                self.next()
                args.append(self.parse_or())
        self.expect(")")
        node: Any = ("func", name, args)
        # a function call can start a path: string(...)/... not needed; but
        # text() as a step is handled inside location paths, not here.
        return node

    def parse_steps_after_base(self) -> List[Any]:
        steps: List[Any] = []
        while self.at("/") or self.at("//"):
            steps.extend(self.parse_slash_step())
        return steps

    def parse_slash_step(self) -> List[Any]:
        """``/step``, or ``//step`` as :func:`_descendant_steps` compiles it."""
        if self.next()[1] == "/":
            return [self.parse_step()]
        return _descendant_steps(self.parse_step())

    def parse_location_path(self) -> Any:
        absolute = False
        steps: List[Any] = []
        if self.at("//"):
            absolute = True
            steps.extend(self.parse_slash_step())
        elif self.at("/"):
            absolute = True
            self.next()
            if self.peek()[0] in ("name",) or self.peek()[1] in ("*", "@", "."):
                steps.append(self.parse_step())
        else:
            steps.append(self.parse_step())
        while self.at("/") or self.at("//"):
            steps.extend(self.parse_slash_step())
        return ("path", absolute, steps, None)

    def parse_step(self) -> Any:
        kind, val = self.peek()
        if val == ".":
            self.next()
            return ("step", "self", ("node",), self.parse_predicates())
        if kind == "ddot":
            self.next()
            return ("step", "parent", ("node",), self.parse_predicates())
        axis = "child"
        if val == "@":
            self.next()
            axis = "attribute"
        elif kind == "name" and val in _AXES and self.tokens[self.i + 1][0] == "dcolon":
            axis = val
            self.next()
            self.next()
        # node test
        kind, val = self.peek()
        if val == "*":
            self.next()
            nodetest: Tuple = ("any",) if axis != "attribute" else ("anyattr",)
        elif kind == "name":
            self.next()
            if self.at("(") and val in ("text", "node", "comment"):
                self.next()
                self.expect(")")
                nodetest = (val,)
            else:
                nodetest = ("name", val)
        else:
            raise XPathError(f"Bad node test at {val!r} in {self.expr!r}")
        return ("step", axis, nodetest, self.parse_predicates())

    def parse_predicates(self) -> List[Any]:
        predicates: List[Any] = []
        while self.at("["):
            self.next()
            predicates.append(self.parse_or())
            self.expect("]")
        return predicates


# --------------------------------------------------------------------------
# Semantics shared by the compiled closures
# --------------------------------------------------------------------------


def _to_string(value: Any) -> str:
    if isinstance(value, list):
        return xpath_string_value(value[0]) if value else ""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, float):
        if value != value:  # NaN
            return "NaN"
        if value == int(value):
            return str(int(value))
        return repr(value)
    return str(value)


def _to_number(value: Any) -> float:
    if isinstance(value, list):
        value = _to_string(value)
    if isinstance(value, bool):
        return 1.0 if value else 0.0
    if isinstance(value, float):
        return value
    try:
        return float(str(value).strip())
    except ValueError:
        return float("nan")


def _to_bool(value: Any) -> bool:
    if isinstance(value, list):
        return bool(value)
    if isinstance(value, str):
        return bool(value)
    if isinstance(value, float):
        return value != 0 and value == value
    return bool(value)


_ORDER_CMP = {"<": operator.lt, ">": operator.gt, "<=": operator.le, ">=": operator.ge}


def _cmp_scalar(op: str, a: Any, b: Any) -> bool:
    if op in _ORDER_CMP:
        return _ORDER_CMP[op](_to_number(a), _to_number(b))
    if isinstance(a, float) or isinstance(b, float):
        a, b = _to_number(a), _to_number(b)
    elif isinstance(a, bool) or isinstance(b, bool):
        a, b = _to_bool(a), _to_bool(b)
    else:
        a, b = _to_string(a), _to_string(b)
    return a == b if op == "=" else a != b


def _compare(op: str, left: Any, right: Any) -> bool:
    """XPath 1.0 §3.4: a node-set compares through its nodes' string
    values, true when any pair satisfies ``op``."""
    lset = left if isinstance(left, list) else None
    rset = right if isinstance(right, list) else None
    if lset is not None and rset is not None:
        lvals = {xpath_string_value(n) for n in lset}
        return any(_cmp_scalar(op, lv, xpath_string_value(rn)) for lv in lvals for rn in rset)
    if lset is not None:
        return any(_cmp_scalar(op, xpath_string_value(n), right) for n in lset)
    if rset is not None:
        return any(_cmp_scalar(op, left, xpath_string_value(n)) for n in rset)
    return _cmp_scalar(op, left, right)


def _translate(s: str, frm: str, to: str) -> str:
    table = {}
    for i, ch in enumerate(frm):
        if ch not in table:  # first occurrence wins (XPath 1.0 §4.2)
            table[ch] = to[i] if i < len(to) else None
    return "".join(table.get(ch, ch) for ch in s if table.get(ch, ch) is not None)


def _regex_flags(flags: str) -> int:
    out = 0
    if "i" in flags:
        out |= re.IGNORECASE
    if "s" in flags:
        out |= re.DOTALL
    if "m" in flags:
        out |= re.MULTILINE
    return out


def _text_nodes(el: Element) -> List[TextNode]:
    out: List[TextNode] = []
    if el.text:
        out.append(TextNode(el, el.text, 0))
    for i, child in enumerate(el._children, start=1):  # noqa: SLF001
        if child.tail:
            out.append(TextNode(el, child.tail, i))
    return out


def _child_nodes(el: Element) -> List[XNode]:
    """``child::node()``: elements, comments AND text children,
    interleaved in document order."""
    out: List[XNode] = []
    if el.text:
        out.append(TextNode(el, el.text, 0))
    for i, child in enumerate(el._children, start=1):  # noqa: SLF001
        out.append(child)
        if child.tail:
            out.append(TextNode(el, child.tail, i))
    return out


def _axis_nodes(node: XNode, axis: str) -> List[XNode]:
    if not isinstance(node, Element):
        # attribute/text nodes: self is the node itself, parent/ancestor
        # resolve through the owner element (needed for predicates like
        # @*[contains(., '...')] where '.' is the attribute node)
        if axis == "self":
            return [node]
        if isinstance(node, (AttrNode, TextNode)) and axis in ("parent", "ancestor", "ancestor-or-self"):
            owner = node.owner
            if axis == "parent":
                return [owner]
            # ancestors of an attr/text node = owner + owner's ancestors;
            # ancestor-or-self additionally includes the node itself
            out: List[XNode] = [node] if axis == "ancestor-or-self" else []
            cur: Optional[Element] = owner
            while cur is not None:
                out.append(cur)
                cur = cur.getparent()
            return out
        return []
    if axis == "child":
        return list(node._children)  # noqa: SLF001
    if axis == "self":
        return [node]
    if axis == "parent":
        p = node.getparent()
        return [p] if p is not None else []
    if axis == "ancestor":
        return list(node.iterancestors())  # nearest first (reverse axis order)
    if axis == "ancestor-or-self":
        return [node] + list(node.iterancestors())
    if axis == "descendant":
        it = node.iter()
        next(it)
        return list(it)
    if axis == "descendant-or-self":
        return list(node.iter())
    if axis == "following-sibling":
        p = node.getparent()
        if p is None:
            return []
        idx = p._children.index(node)  # noqa: SLF001
        return p._children[idx + 1 :]  # noqa: SLF001
    if axis == "preceding-sibling":
        p = node.getparent()
        if p is None:
            return []
        idx = p._children.index(node)  # noqa: SLF001
        return list(reversed(p._children[:idx]))  # noqa: SLF001  # nearest first
    raise XPathError(f"Unsupported axis {axis!r}")


def _descendants_named(node: XNode, tag: str, or_self: bool) -> List[XNode]:
    """``descendant(-or-self)::tag`` in preorder, comparing tags in the
    walk. Comment and PI tags start with ``#``, so no name test matches
    them; attribute and text nodes have no descendants."""
    if not isinstance(node, Element):
        return []
    out: List[XNode] = [node] if or_self and node.tag == tag else []
    stack = node._children[::-1]  # noqa: SLF001
    while stack:
        n = stack.pop()
        if n.tag == tag:
            out.append(n)
        if n._children:  # noqa: SLF001
            stack.extend(n._children[::-1])  # noqa: SLF001
    return out


def _node_test(node: XNode, axis: str, test: Tuple) -> bool:
    kind = test[0]
    if axis == "attribute":
        return isinstance(node, AttrNode) and (kind == "anyattr" or (kind == "name" and node.name == test[1]))
    if kind == "node":
        return True
    if kind == "any":
        return isinstance(node, Element) and not isinstance(node, Comment)
    if kind == "name":
        return isinstance(node, Element) and not isinstance(node, Comment) and node.tag == test[1]
    if kind == "text":
        return isinstance(node, TextNode)
    if kind == "comment":
        return isinstance(node, Comment)
    return False


# --------------------------------------------------------------------------
# Compiler
# --------------------------------------------------------------------------
# Every AST node compiles to a closure ``f(node, pos, size)``: the context
# node, its position and the context size. ``_compile_bool`` and
# ``_compile_string`` compile the same node to a closure that returns
# ``_to_bool`` / ``_to_string`` of its value directly. A location step
# compiles to ``(one, ordered)``: ``one(ctx)`` is the step's node list
# from one context node, predicates applied; ``ordered`` says whether
# that list is in document order already. Closures name
# ``_document_sort`` and ``_node_test`` as module globals, so they are
# looked up at call time.

Fn = Callable[[XNode, int, int], Any]
Step = Tuple[Callable[[XNode], List[XNode]], bool]
NodeFilter = Callable[[List[XNode]], List[XNode]]

#: accepted argument counts; ``None`` accepts any count
_ARITY = {
    "contains": (2,),
    "starts-with": (2,),
    "ends-with": (2,),
    "not": (1,),
    "boolean": (1,),
    "string": (0, 1),
    "number": (0, 1),
    "string-length": (0, 1),
    "normalize-space": (0, 1),
    "concat": None,
    "translate": (3,),
    "position": (0,),
    "last": (0,),
    "count": (1,),
    "name": (0, 1),
    "local-name": (0, 1),
    "hasclass": (1,),
    "re:test": (2, 3),
    "re:match": (2, 3),
}


def _attribute_name(ast: Any) -> Optional[str]:
    """``X`` when ``ast`` is the relative path ``@X`` alone."""
    if ast[0] == "path" and not ast[1] and ast[3] is None and len(ast[2]) == 1:
        _, axis, nodetest, predicates = ast[2][0]
        if axis == "attribute" and nodetest[0] == "name" and not predicates:
            return nodetest[1]
    return None


def _is_self_node(ast: Any) -> bool:
    """``ast`` is ``.`` (``self::node()``) alone."""
    return ast == ("path", False, [("step", "self", ("node",), [])], None)


def _compile(ast: Any) -> Fn:
    op = ast[0]
    if op in ("num", "str"):
        value = ast[1]
        return lambda node, pos, size: value
    if op in ("or", "and"):
        return _compile_bool(ast)
    if op == "cmp":
        return _compile_cmp(ast[1], ast[2], ast[3])
    if op == "union":
        return _compile_union(ast[1])
    if op == "path":
        return _compile_path(ast)
    if op == "func":
        return _compile_func(ast[1], ast[2])
    if op == "filtered":
        return _compile_filtered(ast[1], ast[2])
    if op == "arith":
        left, right = _compile(ast[2]), _compile(ast[3])
        if ast[1] == "+":
            return lambda node, pos, size: _to_number(left(node, pos, size)) + _to_number(right(node, pos, size))
        return lambda node, pos, size: _to_number(left(node, pos, size)) - _to_number(right(node, pos, size))
    raise XPathError(f"Bad AST node {op!r}")


def _compile_bool(ast: Any) -> Fn:
    """``_to_bool`` of ``ast``'s value; every closure returns a bool."""
    op = ast[0]
    if op in ("or", "and"):
        left, right = _compile_bool(ast[1]), _compile_bool(ast[2])
        if op == "or":
            return lambda node, pos, size: left(node, pos, size) or right(node, pos, size)
        return lambda node, pos, size: left(node, pos, size) and right(node, pos, size)
    if op == "cmp" or (op == "func" and ast[1] in _BOOLEAN_FUNCS):
        return _compile(ast)
    if op == "path":
        name = _attribute_name(ast)
        if name is not None:
            return lambda node, pos, size: (
                isinstance(node, Element) and not isinstance(node, Comment) and name in node.attrib
            )
        path = _compile(ast)
        return lambda node, pos, size: bool(path(node, pos, size))
    value = _compile(ast)
    return lambda node, pos, size: _to_bool(value(node, pos, size))


def _compile_string(ast: Any) -> Fn:
    """``_to_string`` of ``ast``'s value."""
    if ast[0] == "str":
        value = ast[1]
        return lambda node, pos, size: value
    name = _attribute_name(ast)
    if name is not None:
        return lambda node, pos, size: (
            node.attrib.get(name, "") if isinstance(node, Element) and not isinstance(node, Comment) else ""
        )
    if _is_self_node(ast):
        return lambda node, pos, size: xpath_string_value(node)
    value = _compile(ast)
    return lambda node, pos, size: _to_string(value(node, pos, size))


def _compile_cmp(op: str, left_ast: Any, right_ast: Any) -> Fn:
    name = _attribute_name(left_ast)
    if name is not None and op in ("=", "!=") and right_ast[0] == "str":
        # the attribute step yields at most one node: @name = 'lit' is
        # one dict lookup, and != needs the attribute present
        literal = right_ast[1]
        if op == "=":
            return lambda node, pos, size: (
                isinstance(node, Element) and not isinstance(node, Comment) and node.attrib.get(name) == literal
            )

        def attribute_differs(node: XNode, pos: int, size: int) -> bool:
            if isinstance(node, Element) and not isinstance(node, Comment):
                value = node.attrib.get(name)
                return value is not None and value != literal
            return False

        return attribute_differs
    left, right = _compile(left_ast), _compile(right_ast)
    return lambda node, pos, size: _compare(op, left(node, pos, size), right(node, pos, size))


def _compile_union(paths: List[Any]) -> Fn:
    members = [_compile(p) for p in paths]

    def union(node: XNode, pos: int, size: int) -> List[XNode]:
        merged: List[XNode] = []
        for member in members:
            res = member(node, pos, size)
            if not isinstance(res, list):
                raise XPathError("Union of non-node-sets")
            merged.extend(res)
        return _document_sort(merged)

    return union


def _compile_filtered(base_ast: Any, predicates: List[Any]) -> Fn:
    base = _compile(base_ast)
    keep = _compile_predicates(predicates)

    def filtered(node: XNode, pos: int, size: int) -> List[XNode]:
        nodes = base(node, pos, size)
        if not isinstance(nodes, list):
            raise XPathError("Predicates on non-node-set")
        return keep(nodes) if keep is not None else nodes

    return filtered


def _walk(current: List[XNode], steps: Sequence[Step]) -> List[XNode]:
    for one, ordered in steps:
        if len(current) == 1:
            current = one(current[0])
            if not ordered and len(current) > 1:
                current = _document_sort(current)
        else:
            results: List[XNode] = []
            for ctx in current:
                results.extend(one(ctx))
            current = results if len(results) < 2 else _document_sort(results)
    return current


def _compile_path(ast: Any) -> Fn:
    _, absolute, step_asts, base_ast = ast
    steps = [_compile_step(s) for s in step_asts]
    if base_ast is not None:
        base = _compile(base_ast)

        def from_base(node: XNode, pos: int, size: int) -> List[XNode]:
            current = base(node, pos, size)
            if not isinstance(current, list):
                raise XPathError("Path base is not a node-set")
            return _walk(current, steps)

        return from_base
    if absolute:

        def from_root(node: XNode, pos: int, size: int) -> List[XNode]:
            root: XNode = node
            while isinstance(root, Element) and root.getparent() is not None:
                root = root.getparent()  # type: ignore[assignment]
            # XPath '/' is the DOCUMENT node sitting above <html> (lxml
            # resolves '/html/body/...' that way); our tree root IS
            # <html>, so wrap it in a virtual document node.
            doc_node = Element("#document")
            doc_node._children = [root]  # noqa: SLF001 — root keeps _parent=None
            return _walk([doc_node], steps)

        return from_root
    if len(steps) == 1:
        one, ordered = steps[0]
        if ordered:
            return lambda node, pos, size: one(node)

        def single_step(node: XNode, pos: int, size: int) -> List[XNode]:
            nodes = one(node)
            return nodes if len(nodes) < 2 else _document_sort(nodes)

        return single_step
    return lambda node, pos, size: _walk([node], steps)


def _compile_step(step: Any) -> Step:
    _, axis, nodetest, predicates = step
    kind = nodetest[0]
    name = nodetest[1] if kind == "name" else None
    candidates: Callable[[XNode], List[XNode]]
    if axis == "attribute":
        if kind == "name":

            def candidates(ctx: XNode) -> List[XNode]:
                if isinstance(ctx, Element) and not isinstance(ctx, Comment) and name in ctx.attrib:
                    return [AttrNode(ctx, name, ctx.attrib[name])]
                return []

        else:

            def candidates(ctx: XNode) -> List[XNode]:
                if isinstance(ctx, Element) and not isinstance(ctx, Comment):
                    attrs = [AttrNode(ctx, k, v) for k, v in ctx.attrib.items()]
                    return [a for a in attrs if _node_test(a, "attribute", nodetest)]
                return []

    elif kind == "text":
        if axis == "child":
            candidates = lambda ctx: _text_nodes(ctx) if isinstance(ctx, Element) else []  # noqa: E731
        else:
            candidates = lambda ctx: []  # noqa: E731
    elif kind == "node" and axis == "child":
        candidates = lambda ctx: _child_nodes(ctx) if isinstance(ctx, Element) else []  # noqa: E731
    elif kind == "name" and axis in ("descendant", "descendant-or-self"):
        or_self = axis == "descendant-or-self"
        candidates = lambda ctx: _descendants_named(ctx, name, or_self)  # noqa: E731
    elif kind == "name" and axis == "child":
        # a name never starts with '#', so comments and PIs never match
        candidates = lambda ctx: [c for c in ctx._children if c.tag == name] if isinstance(ctx, Element) else []  # noqa: E731, SLF001
    elif kind == "node" and axis == "self":
        candidates = lambda ctx: [ctx]  # noqa: E731
    else:
        candidates = lambda ctx: [n for n in _axis_nodes(ctx, axis) if _node_test(n, axis, nodetest)]  # noqa: E731
    keep = _compile_predicates(predicates)
    if keep is None:
        return candidates, axis in _ORDERED_AXES
    return (lambda ctx: keep(candidates(ctx))), axis in _ORDERED_AXES


def _compile_predicates(predicates: List[Any]) -> Optional[NodeFilter]:
    """One filter applying ``predicates`` in turn, or None for none."""
    filters = [_compile_predicate(p) for p in predicates]
    if not filters:
        return None
    if len(filters) == 1:
        return filters[0]

    def apply_all(nodes: List[XNode]) -> List[XNode]:
        for keep in filters:
            nodes = keep(nodes)
        return nodes

    return apply_all


def _compile_predicate(predicate: Any) -> NodeFilter:
    if predicate[0] == "num":
        # [k] keeps the node at position k
        k = predicate[1]
        if k >= 1 and k == int(k):
            i = int(k)
            return lambda nodes: nodes[i - 1 : i]
        return lambda nodes: []
    if _is_order_free(predicate):
        test = _compile_bool(predicate)
        return lambda nodes: [n for n in nodes if test(n, 0, 0)]
    value_of = _compile(predicate)

    def positional(nodes: List[XNode]) -> List[XNode]:
        size = len(nodes)
        kept: List[XNode] = []
        for idx, n in enumerate(nodes, start=1):
            value = value_of(n, idx, size)
            if isinstance(value, float):
                if value == idx:
                    kept.append(n)
            elif _to_bool(value):
                kept.append(n)
        return kept

    return positional


def _compile_func(name: str, arg_asts: List[Any]) -> Fn:
    if name not in _ARITY:
        raise XPathError(f"Unsupported function {name!r}")
    allowed = _ARITY[name]
    if allowed is not None and len(arg_asts) not in allowed:
        raise XPathError(f"{name}() takes {' or '.join(map(str, allowed))} arguments, got {len(arg_asts)}")
    if name == "position":
        return lambda node, pos, size: float(pos)
    if name == "last":
        return lambda node, pos, size: float(size)
    if name == "not":
        inner = _compile_bool(arg_asts[0])
        return lambda node, pos, size: not inner(node, pos, size)
    if name == "boolean":
        return _compile_bool(arg_asts[0])
    if name == "count":
        nodes_of = _compile(arg_asts[0])

        def count(node: XNode, pos: int, size: int) -> float:
            nodes = nodes_of(node, pos, size)
            if not isinstance(nodes, list):
                raise XPathError("count() expects a node-set")
            return float(len(nodes))

        return count
    if name == "number":
        if not arg_asts:
            return lambda node, pos, size: _to_number(xpath_string_value(node))
        value = _compile(arg_asts[0])
        return lambda node, pos, size: _to_number(value(node, pos, size))
    if name in ("name", "local-name"):
        return _compile_name(arg_asts)
    if name == "re:match":
        return _compile_regex(arg_asts, True)
    strings = [_compile_string(a) for a in arg_asts]
    if name in ("string", "string-length", "normalize-space"):
        text: Fn = strings[0] if strings else (lambda node, pos, size: xpath_string_value(node))
        if name == "string":
            return text
        if name == "string-length":
            return lambda node, pos, size: float(len(text(node, pos, size)))
        return lambda node, pos, size: _xpath_normalize_space(text(node, pos, size))
    if name == "concat":
        return lambda node, pos, size: "".join([s(node, pos, size) for s in strings])
    if name == "translate":
        s, frm, to = strings
        # evaluated in argument order: s, then frm, then to
        return lambda node, pos, size: _translate(s(node, pos, size), frm(node, pos, size), to(node, pos, size))
    if name == "hasclass":
        # extension: CSS class-token membership on the context node
        cls = strings[0]

        def hasclass(node: XNode, pos: int, size: int) -> bool:
            token = cls(node, pos, size)
            return isinstance(node, Element) and token in node.classes()

        return hasclass
    if name == "re:test":
        return _compile_regex(arg_asts, False)
    haystack, needle = strings
    method = {"contains": str.__contains__, "starts-with": str.startswith, "ends-with": str.endswith}[name]
    return lambda node, pos, size: method(haystack(node, pos, size), needle(node, pos, size))


def _compile_name(arg_asts: List[Any]) -> Fn:
    value = _compile(arg_asts[0]) if arg_asts else None

    def name_of(node: XNode, pos: int, size: int) -> str:
        target = node
        if value is not None:
            nodes = value(node, pos, size)
            if not (isinstance(nodes, list) and nodes):
                return ""
            target = nodes[0]
        if isinstance(target, AttrNode):
            return target.name
        if isinstance(target, Element) and not isinstance(target, Comment):
            return target.tag
        return ""

    return name_of


def _compile_regex(arg_asts: List[Any], groups: bool) -> Fn:
    """EXSLT ``re:test`` (a bool) or ``re:match`` (a node-set: the whole
    match and one text node per capture group, e.g. BR's image-credit
    selector ``re:match(./@title, '(?<=\\|\\sBild:\\s).*$')``), with
    Python ``re`` semantics; flags ``i``, ``s`` and ``m``."""
    subject, pattern, *flags = [_compile_string(a) for a in arg_asts]

    def search(node: XNode, pos: int, size: int) -> Optional[re.Match]:
        s = subject(node, pos, size)
        p = pattern(node, pos, size)
        return re.search(p, s, _regex_flags(flags[0](node, pos, size) if flags else ""))

    if not groups:
        return lambda node, pos, size: search(node, pos, size) is not None

    def match(node: XNode, pos: int, size: int) -> List[XNode]:
        m = search(node, pos, size)
        if m is None:
            return []
        owner = node if isinstance(node, Element) else getattr(node, "owner", node)
        return [TextNode(owner, g) for g in (m.group(0), *m.groups()) if g is not None]

    return match


class XPath:
    """An XPath expression compiled once into closures. Call with a
    context node; returns a node list in document order, a string, a
    number (float) or a bool."""

    def __init__(self, expr: str, namespaces: Optional[dict] = None):
        self.expr = expr
        self._ast = _Parser(expr).parse()
        self._fn = _compile(self._ast)

    def __call__(self, node: Element) -> Any:
        return self._fn(node, 1, 1)

    def __repr__(self) -> str:
        return f"XPath({self.expr!r})"
