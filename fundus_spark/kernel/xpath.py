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
# Evaluator
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


def _text_nodes(el: Element) -> List[TextNode]:
    out: List[TextNode] = []
    if el.text:
        out.append(TextNode(el, el.text, 0))
    for i, child in enumerate(el._children, start=1):  # noqa: SLF001
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


class _Evaluator:
    def __init__(self, namespaces: Optional[dict] = None, variables: Optional[dict] = None):
        self.variables = variables or {}

    # --- expression dispatch ------------------------------------------
    def eval(self, ast: Any, node: XNode, pos: int, size: int) -> Any:
        op = ast[0]
        if op == "num":
            return ast[1]
        if op == "str":
            return ast[1]
        if op == "or":
            return _to_bool(self.eval(ast[1], node, pos, size)) or _to_bool(self.eval(ast[2], node, pos, size))
        if op == "and":
            return _to_bool(self.eval(ast[1], node, pos, size)) and _to_bool(self.eval(ast[2], node, pos, size))
        if op == "cmp":
            return self.eval_cmp(ast[1], self.eval(ast[2], node, pos, size), self.eval(ast[3], node, pos, size))
        if op == "union":
            merged: List[XNode] = []
            for sub in ast[1]:
                res = self.eval(sub, node, pos, size)
                if not isinstance(res, list):
                    raise XPathError("Union of non-node-sets")
                merged.extend(res)
            return _document_sort(merged)
        if op == "path":
            return self.eval_path(ast, node, pos, size)
        if op == "func":
            return self.eval_func(ast[1], ast[2], node, pos, size)
        if op == "filtered":
            base = self.eval(ast[1], node, pos, size)
            if not isinstance(base, list):
                raise XPathError("Predicates on non-node-set")
            return self.apply_predicates(base, ast[2])
        if op == "arith":
            a = _to_number(self.eval(ast[2], node, pos, size))
            b = _to_number(self.eval(ast[3], node, pos, size))
            return a + b if ast[1] == "+" else a - b
        raise XPathError(f"Bad AST node {op!r}")

    def eval_cmp(self, op: str, left: Any, right: Any) -> bool:
        def cmp_scalar(a: Any, b: Any) -> bool:
            if op in ("<", ">", "<=", ">="):
                a, b = _to_number(a), _to_number(b)
                return {"<": a < b, ">": a > b, "<=": a <= b, ">=": a >= b}[op]
            if isinstance(a, float) or isinstance(b, float):
                a, b = _to_number(a), _to_number(b)
            elif isinstance(a, bool) or isinstance(b, bool):
                a, b = _to_bool(a), _to_bool(b)
            else:
                a, b = _to_string(a), _to_string(b)
            return a == b if op == "=" else a != b

        lset = left if isinstance(left, list) else None
        rset = right if isinstance(right, list) else None
        if lset is not None and rset is not None:
            lvals = {xpath_string_value(n) for n in lset}
            return any(cmp_scalar(lv, xpath_string_value(rn)) for lv in lvals for rn in rset)
        if lset is not None:
            return any(cmp_scalar(xpath_string_value(n), right) for n in lset)
        if rset is not None:
            return any(cmp_scalar(left, xpath_string_value(n)) for n in rset)
        return cmp_scalar(left, right)

    # --- paths -----------------------------------------------------------
    def eval_path(self, ast: Any, node: XNode, pos: int, size: int) -> List[XNode]:
        _, absolute, steps, base = ast
        if base is not None:
            current = self.eval(base, node, pos, size)
            if not isinstance(current, list):
                raise XPathError("Path base is not a node-set")
        else:
            if absolute:
                root: XNode = node
                while isinstance(root, Element) and root.getparent() is not None:
                    root = root.getparent()  # type: ignore[assignment]
                # XPath '/' is the DOCUMENT node sitting above <html>
                # (lxml resolves '/html/body/...' that way); our tree
                # root IS <html>, so wrap it in a virtual document node.
                doc_node = Element("#document")
                doc_node._children = [root]  # noqa: SLF001 — root keeps _parent=None
                current = [doc_node]
            else:
                current = [node]
        for step in steps:
            current = self.eval_step(step, current)
        return current

    def eval_step(self, step: Any, context: List[XNode]) -> List[XNode]:
        _, axis, nodetest, predicates = step
        results: List[XNode] = []
        for ctx in context:
            if axis == "attribute":
                if isinstance(ctx, Element) and not isinstance(ctx, Comment):
                    candidates: List[XNode] = [
                        AttrNode(ctx, name, value)
                        for name, value in ctx.attrib.items()
                        if _node_test(AttrNode(ctx, name, value), axis, nodetest)
                    ]
                else:
                    candidates = []
            elif nodetest[0] == "text":
                if axis == "child" and isinstance(ctx, Element):
                    candidates = list(_text_nodes(ctx))
                else:
                    candidates = []
            elif nodetest[0] == "node" and axis == "child" and isinstance(ctx, Element):
                # node() spans elements, comments AND text children,
                # interleaved in document order
                candidates = []
                if ctx.text:
                    candidates.append(TextNode(ctx, ctx.text, 0))
                for i, child in enumerate(ctx._children, start=1):  # noqa: SLF001
                    candidates.append(child)
                    if child.tail:
                        candidates.append(TextNode(ctx, child.tail, i))
            elif nodetest[0] == "name" and axis in ("descendant", "descendant-or-self"):
                candidates = _descendants_named(ctx, nodetest[1], axis == "descendant-or-self")
            else:
                candidates = [n for n in _axis_nodes(ctx, axis) if _node_test(n, axis, nodetest)]
            filtered = self.apply_predicates(candidates, predicates)
            results.extend(filtered)
        if len(results) < 2 or (len(context) == 1 and axis in _ORDERED_AXES):
            return results
        return _document_sort(results)

    def apply_predicates(self, nodes: List[XNode], predicates: List[Any]) -> List[XNode]:
        current = nodes
        for pred in predicates:
            size = len(current)
            kept: List[XNode] = []
            for idx, n in enumerate(current, start=1):
                value = self.eval(pred, n, idx, size)
                if isinstance(value, float):
                    if value == idx:
                        kept.append(n)
                elif _to_bool(value):
                    kept.append(n)
            current = kept
        return current

    # --- functions ---------------------------------------------------------
    def eval_func(self, name: str, args: List[Any], node: XNode, pos: int, size: int) -> Any:
        def ev(i: int) -> Any:
            return self.eval(args[i], node, pos, size)

        if name == "contains":
            return _to_string(ev(0)).__contains__(_to_string(ev(1)))
        if name == "starts-with":
            return _to_string(ev(0)).startswith(_to_string(ev(1)))
        if name == "ends-with":
            return _to_string(ev(0)).endswith(_to_string(ev(1)))
        if name == "not":
            return not _to_bool(ev(0))
        if name == "boolean":
            return _to_bool(ev(0))
        if name == "string":
            if not args:
                return xpath_string_value(node)
            return _to_string(ev(0))
        if name == "number":
            return _to_number(ev(0)) if args else _to_number(xpath_string_value(node))
        if name == "string-length":
            return float(len(_to_string(ev(0)) if args else xpath_string_value(node)))
        if name == "normalize-space":
            return _xpath_normalize_space(_to_string(ev(0)) if args else xpath_string_value(node))
        if name == "concat":
            return "".join(_to_string(ev(i)) for i in range(len(args)))
        if name == "translate":
            s, frm, to = _to_string(ev(0)), _to_string(ev(1)), _to_string(ev(2))
            table = {}
            for i, ch in enumerate(frm):
                if ch not in table:  # first occurrence wins (XPath 1.0 §4.2)
                    table[ch] = to[i] if i < len(to) else None
            return "".join(table.get(ch, ch) for ch in s if table.get(ch, ch) is not None)
        if name == "position":
            return float(pos)
        if name == "last":
            return float(size)
        if name == "count":
            val = ev(0)
            if not isinstance(val, list):
                raise XPathError("count() expects a node-set")
            return float(len(val))
        if name == "name" or name == "local-name":
            if args:
                val = ev(0)
                if isinstance(val, list) and val:
                    target = val[0]
                else:
                    return ""
            else:
                target = node
            if isinstance(target, AttrNode):
                return target.name
            if isinstance(target, Element) and not isinstance(target, Comment):
                return target.tag
            return ""
        if name == "hasclass":
            # extension: CSS class-token membership on the context node
            cls = _to_string(ev(0))
            return isinstance(node, Element) and cls in node.classes()
        if name in ("re:test", "re:match"):
            input_str = _to_string(ev(0))
            pattern = _to_string(ev(1))
            flags_str = _to_string(ev(2)) if len(args) > 2 else ""
            flags = 0
            if "i" in flags_str:
                flags |= re.IGNORECASE
            if "s" in flags_str:
                flags |= re.DOTALL
            if "m" in flags_str:
                flags |= re.MULTILINE
            match = re.search(pattern, input_str, flags)
            if name == "re:test":
                return match is not None
            # EXSLT re:match returns a node-set: whole match + one node
            # per capture group (e.g. BR's image-credit selector
            # re:match(./@title, '(?<=\|\sBild:\s).*$'))
            if match is None:
                return []
            owner = node if isinstance(node, Element) else getattr(node, "owner", node)
            return [TextNode(owner, g) for g in (match.group(0), *match.groups()) if g is not None]
        raise XPathError(f"Unsupported function {name!r}")


class XPath:
    """Compiled XPath expression. Call with a context Element."""

    def __init__(self, expr: str, namespaces: Optional[dict] = None):
        self.expr = expr
        self._ast = _Parser(expr).parse()
        self._evaluator = _Evaluator(namespaces)

    def __call__(self, node: Element) -> Any:
        return self._evaluator.eval(self._ast, node, 1, 1)

    def __repr__(self) -> str:
        return f"XPath({self.expr!r})"
