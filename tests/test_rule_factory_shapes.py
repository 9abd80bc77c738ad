"""Rule modules build their extractors from the ``rules/_common.py``
factories: no top-level function in ``fundus_spark/rules/`` may have a
body that is exactly a factory's body.

The scan is syntactic. A top-level ``def f(ctx)`` whose body is one
``return`` of a factory shape (below) is flagged, and so is a closure
maker ``def f(...)`` whose body is ``def fn(ctx): return <shape>`` then
``return fn``. ``python -m tests.test_rule_factory_shapes`` lists the
flagged functions.

Shapes, with the factory that replaces them (``K`` and the selectors
are any expressions that do not mention ``ctx``):

- ``free_access_from_ld(ctx.ld)``: ``free_access``
- ``ctx.meta.get(K)``: ``title_from_meta``
- ``ctx.ld.bf_search(K)``: ``title_from_ld``
- ``ctx.ld.xpath_search(K, scalar=True)``: ``title_from_ld_path``
- ``parse_title_from_root(ctx.doc)``: ``title_from_root``
- ``generic_author_parsing(ctx.meta.get(K))`` / ``(ctx.ld.bf_search(K))`` /
  ``(ctx.ld.xpath_search(K))``: ``authors_from_meta`` / ``_ld`` / ``_ld_path``
- ``generic_author_parsing(generic_nodes_to_text(S(ctx.doc)))``: ``authors_from_nodes``
- ``generic_date_parsing`` of ``ctx.meta.get(K)`` / ``ctx.ld.bf_search(K)`` /
  ``ctx.ld.xpath_search(K, scalar=True)``: ``date_from_meta`` / ``_ld`` /
  ``_ld_path``
- ``generic_topic_parsing(ctx.meta.get(K), ...)`` / ``(ctx.ld.bf_search(K), ...)``,
  with only ``delimiter``, ``substitution_pattern``, ``result_filter``:
  ``topics_from_meta`` / ``topics_from_ld``
- ``generic_topic_parsing(generic_nodes_to_text(S(ctx.doc), normalize=True))``:
  ``topics_from_nodes``
- ``assemble_body(ctx.doc, paragraph_selector=..., ...)`` with only the
  paragraph, summary, subheadline selectors and ``tag_filter``: ``make_body``
- ``[i.serialize() for i in image_extraction(doc=ctx.doc, paragraph_selector=..., ...)]``:
  ``make_images``
"""

from __future__ import annotations

import ast
import inspect
import sys
from pathlib import Path
from typing import Iterator, List, Optional, Tuple

from fundus_spark.kernel import image_extraction

RULES_DIR = Path(__file__).resolve().parent.parent / "fundus_spark" / "rules"

#: the keywords ``make_body`` and ``topics_from_*`` pass on
_BODY_KWARGS = {"paragraph_selector", "summary_selector", "subheadline_selector", "tag_filter"}
_TOPIC_KWARGS = {"delimiter", "substitution_pattern", "result_filter"}
#: ``make_images`` forwards every keyword, so positional arguments map
#: by the kernel's own signature
_IMAGE_PARAMS = tuple(inspect.signature(image_extraction).parameters)


def _mentions(node: ast.AST, name: str) -> bool:
    return any(isinstance(n, ast.Name) and n.id == name for n in ast.walk(node))


def _call_to(node: ast.AST, func: str) -> Optional[ast.Call]:
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Name) and node.func.id == func:
        return node
    return None


def _ctx_attr(node: ast.AST, ctx: str, attr: str) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == attr
        and isinstance(node.value, ast.Name)
        and node.value.id == ctx
    )


def _lookup(node: ast.AST, ctx: str) -> Optional[str]:
    """``meta`` / ``ld`` / ``ld_path`` / ``ld_path_scalar`` for a one-key
    lookup on the context, else None."""
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
        return None
    method, owner = node.func.attr, node.func.value
    if len(node.args) != 1 or _mentions(node.args[0], ctx):
        return None
    kwargs = {kw.arg: kw.value for kw in node.keywords}
    if method == "get" and _ctx_attr(owner, ctx, "meta") and not kwargs:
        return "meta"
    if method == "bf_search" and _ctx_attr(owner, ctx, "ld") and not kwargs:
        return "ld"
    if method == "xpath_search" and _ctx_attr(owner, ctx, "ld"):
        if not kwargs:
            return "ld_path"
        scalar = kwargs.get("scalar")
        if set(kwargs) == {"scalar"} and isinstance(scalar, ast.Constant) and scalar.value is True:
            return "ld_path_scalar"
    return None


def _selected_text(node: ast.AST, ctx: str, normalize: bool) -> bool:
    """``generic_nodes_to_text(S(ctx.doc))``, with ``normalize=True`` iff
    ``normalize``."""
    call = _call_to(node, "generic_nodes_to_text")
    if not call or len(call.args) != 1:
        return False
    flags = [kw for kw in call.keywords if kw.arg == "normalize"]
    if len(call.keywords) != normalize or len(flags) != normalize:
        return False
    if normalize and not (isinstance(flags[0].value, ast.Constant) and flags[0].value.value is True):
        return False
    selected = call.args[0]
    return (
        isinstance(selected, ast.Call)
        and len(selected.args) == 1
        and not selected.keywords
        and _ctx_attr(selected.args[0], ctx, "doc")
        and not _mentions(selected.func, ctx)
    )


def _only_ctx_free(args: List[ast.AST], ctx: str) -> bool:
    return not any(_mentions(arg, ctx) for arg in args)


def shape_of(expr: ast.AST, ctx: str) -> Optional[str]:
    """The factory whose body ``expr`` is, for context parameter ``ctx``."""
    for func, attr, factory in (
        ("free_access_from_ld", "ld", "free_access"),
        ("parse_title_from_root", "doc", "title_from_root"),
    ):
        if call := _call_to(expr, func):
            return factory if len(call.args) == 1 and _ctx_attr(call.args[0], ctx, attr) and not call.keywords else None
    lookup = _lookup(expr, ctx)
    if lookup is not None:
        return {"meta": "title_from_meta", "ld": "title_from_ld", "ld_path_scalar": "title_from_ld_path"}.get(lookup)
    if call := _call_to(expr, "generic_author_parsing"):
        if len(call.args) == 1 and not call.keywords:
            if _selected_text(call.args[0], ctx, normalize=False):
                return "authors_from_nodes"
            lookup = _lookup(call.args[0], ctx)
            return {"meta": "authors_from_meta", "ld": "authors_from_ld", "ld_path": "authors_from_ld_path"}.get(lookup)
        return None
    if call := _call_to(expr, "generic_date_parsing"):
        if len(call.args) == 1 and not call.keywords:
            lookup = _lookup(call.args[0], ctx)
            return {"meta": "date_from_meta", "ld": "date_from_ld", "ld_path_scalar": "date_from_ld_path"}.get(lookup)
        return None
    if call := _call_to(expr, "generic_topic_parsing"):
        if not call.args or len(call.args) > 2 or not _only_ctx_free(call.args[1:], ctx):
            return None
        if not {kw.arg for kw in call.keywords} <= _TOPIC_KWARGS or not _only_ctx_free(call.keywords, ctx):
            return None
        lookup = _lookup(call.args[0], ctx)
        if lookup in ("meta", "ld"):
            return "topics_from_" + lookup
        if len(call.args) == 1 and not call.keywords and _selected_text(call.args[0], ctx, normalize=True):
            return "topics_from_nodes"
        return None
    if call := _call_to(expr, "assemble_body"):
        kwargs = {kw.arg for kw in call.keywords}
        if (
            len(call.args) == 1
            and _ctx_attr(call.args[0], ctx, "doc")
            and "paragraph_selector" in kwargs
            and kwargs <= _BODY_KWARGS
            and _only_ctx_free(call.keywords, ctx)
        ):
            return "make_body"
        return None
    if isinstance(expr, ast.ListComp) and len(expr.generators) == 1:
        gen = expr.generators[0]
        element = expr.elt
        if (
            not gen.ifs
            and isinstance(gen.target, ast.Name)
            and isinstance(element, ast.Call)
            and not element.args
            and not element.keywords
            and isinstance(element.func, ast.Attribute)
            and element.func.attr == "serialize"
            and isinstance(element.func.value, ast.Name)
            and element.func.value.id == gen.target.id
            and (call := _call_to(gen.iter, "image_extraction"))
        ):
            named = dict(zip(_IMAGE_PARAMS, call.args))
            named.update({kw.arg: kw.value for kw in call.keywords if kw.arg})
            if (
                len(named) == len(call.args) + len(call.keywords)
                and "doc" in named
                and "paragraph_selector" in named
                and _ctx_attr(named.pop("doc"), ctx, "doc")
                and _only_ctx_free(list(named.values()), ctx)
            ):
                return "make_images"
    return None


def _returned(body: List[ast.stmt]) -> Optional[ast.AST]:
    """The returned expression of a body that is one ``return`` (after
    an optional docstring)."""
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]
    if len(body) == 1 and isinstance(body[0], ast.Return) and body[0].value is not None:
        return body[0].value
    return None


def _single_param(fn: ast.FunctionDef) -> Optional[str]:
    a = fn.args
    if a.posonlyargs or a.kwonlyargs or a.vararg or a.kwarg or a.defaults or len(a.args) != 1:
        return None
    return a.args[0].arg


def def_shape(fn: ast.AST) -> Optional[str]:
    """The factory a top-level def reimplements: its body, or the body of
    the one closure it makes and returns."""
    if not isinstance(fn, ast.FunctionDef) or fn.decorator_list:
        return None
    ctx = _single_param(fn)
    expr = _returned(fn.body)
    if ctx is not None and expr is not None:
        return shape_of(expr, ctx)
    body = fn.body
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]
    if (
        len(body) == 2
        and isinstance(body[0], ast.FunctionDef)
        and not body[0].decorator_list
        and isinstance(body[1], ast.Return)
        and isinstance(body[1].value, ast.Name)
        and body[1].value.id == body[0].name
    ):
        inner = body[0]
        ctx = _single_param(inner)
        expr = _returned(inner.body)
        if ctx is not None and expr is not None and (shape := shape_of(expr, ctx)):
            return shape
    return None


def factory_shaped_defs(rules_dir: Path = RULES_DIR) -> Iterator[Tuple[str, str, int, str]]:
    """(module, function, line, factory) for every flagged def."""
    for path in sorted(rules_dir.glob("*.py")):
        if path.name == "_common.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if shape := def_shape(node):
                yield path.stem, node.name, node.lineno, shape


def test_no_rule_function_reimplements_a_factory():
    flagged = list(factory_shaped_defs())
    assert not flagged, f"{len(flagged)} rule functions are factory bodies, e.g. {flagged[:5]}"


def test_scan_flags_each_shape():
    src = '''
def a(ctx): return free_access_from_ld(ctx.ld)
def b(ctx): return ctx.meta.get("og:title")
def c(c): return generic_author_parsing(c.ld.bf_search(KEY))
def d(ctx): return generic_date_parsing(ctx.ld.xpath_search("//X/date", scalar=True))
def e(ctx): return generic_topic_parsing(ctx.meta.get("keywords"), delimiter=";")
def f(ctx): return generic_topic_parsing(generic_nodes_to_text(_TOPICS(ctx.doc), normalize=True))
def g(ctx): return assemble_body(ctx.doc, summary_selector=_S, paragraph_selector=_P)
def h(ctx): return [i.serialize() for i in image_extraction(doc=ctx.doc, paragraph_selector=_P, image_selector=_I)]
def i(ctx): return parse_title_from_root(ctx.doc)
def k(ctx): return generic_author_parsing(generic_nodes_to_text(_AUTHOR(ctx.doc)))
def j(paragraph, summary):
    def fn(ctx):
        return assemble_body(ctx.doc, paragraph_selector=paragraph, summary_selector=summary)
    return fn
def no_1(ctx): return generic_author_parsing(ctx.ld.bf_search("author"), split_on=[","])
def no_2(ctx): return ctx.meta.get("og:title") or parse_title_from_root(ctx.doc)
def no_3(ctx): return assemble_body(ctx.doc, paragraph_selector=_P(ctx))
def no_4(ctx): return generic_date_parsing(ctx.ld.bf_search("datePublished", depth=2))
def no_6(ctx): return generic_author_parsing(generic_nodes_to_text(_AUTHOR(ctx.doc), normalize=True))
def no_7(ctx): return generic_topic_parsing(generic_nodes_to_text(_TOPICS(ctx.doc)))
def no_5(ctx): return [i.serialize() for i in image_extraction(doc=ctx.doc, paragraph_selector=_P) if i]
'''
    shapes = {node.name: def_shape(node) for node in ast.parse(src).body}
    assert {name: shape for name, shape in shapes.items() if not name.startswith("no_")} == {
        "a": "free_access",
        "b": "title_from_meta",
        "c": "authors_from_ld",
        "d": "date_from_ld_path",
        "e": "topics_from_meta",
        "f": "topics_from_nodes",
        "g": "make_body",
        "h": "make_images",
        "i": "title_from_root",
        "j": "make_body",
        "k": "authors_from_nodes",
    }
    assert not any(shapes[name] for name in shapes if name.startswith("no_"))


def main() -> None:
    from collections import Counter

    flagged = list(factory_shaped_defs())
    for module, name, line, shape in flagged:
        print(f"{module}.py:{line} {name} -> {shape}")
    print(len(flagged), "defs in", len({f[0] for f in flagged}), "modules;", dict(Counter(f[3] for f in flagged)))


if __name__ == "__main__":
    main()
