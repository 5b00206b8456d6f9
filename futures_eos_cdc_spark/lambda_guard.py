"""Lambda-invariant guard: row expressions a lambda re-evaluates per element.

Spark evaluates higher-order-function lambdas (``transform``, ``filter``,
``aggregate``, ``zip_with``, ...) interpreted, once per array element, and
nothing shares a subexpression between those calls. A lambda body that
reads a row expression without the lambda variable, e.g. ``transform(seq,
i -> slice(split(text), i, k))``, re-computes ``split(text)`` once per
element: quadratic in the array length. The fix is to evaluate the row
expression once outside the lambda (project it, or pass it to
``operators.common.sql_expr``, which binds a Column input once per row).

:func:`lambda_invariants` walks a DataFrame's ANALYZED plan (the optimized
plan hides persisted subplans behind ``InMemoryRelation``) and returns each
maximal lambda-body subtree that reads a row attribute, reads no lambda
variable, and is not cheap. Cheap means built only from attributes,
literals and struct-field extraction (``a.doc`` on a row struct).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

_EXPR = "org.apache.spark.sql.catalyst.expressions."
_LAMBDA_VAR = _EXPR + "NamedLambdaVariable"
_LAMBDA_FN = _EXPR + "LambdaFunction"
_ROW_ATTRS = {_EXPR + "AttributeReference", _EXPR + "OuterReference"}
_CHEAP = {_EXPR + "AttributeReference", _EXPR + "Literal", _EXPR + "GetStructField"}


def _is_flat_tree(v) -> bool:
    return (
        isinstance(v, list)
        and len(v) > 0
        and all(isinstance(x, dict) and "num-children" in x for x in v)
    )


def _trees(flat: list) -> list:
    """Rebuild (node, children) trees from TreeNode.toJSON's pre-order list."""
    pos = 0

    def take():
        nonlocal pos
        node = flat[pos]
        pos += 1
        return node, [take() for _ in range(node["num-children"])]

    out = []
    while pos < len(flat):
        out.append(take())
    return out


def _nested(v):
    """Flattened trees held in a node's non-child fields (a plan node's
    expressions, a subquery expression's plan)."""
    if _is_flat_tree(v):
        yield v
    elif isinstance(v, list):
        for x in v:
            yield from _nested(x)
    elif isinstance(v, dict):
        for x in v.values():
            yield from _nested(x)


def _render(tree) -> str:
    node, kids = tree
    cls = node["class"]
    if cls in _ROW_ATTRS:
        return node.get("name", "?")
    if cls == _EXPR + "Literal":
        return repr(node.get("value"))
    return f"{cls.rsplit('.', 1)[-1]}({', '.join(_render(k) for k in kids)})"


def _scan(tree, in_body: bool, memo: dict, out: list) -> None:
    node, kids = tree
    cls = node["class"]
    for name, v in node.items():
        # an expression's children are already in the flat list (some are
        # repeated in fields, e.g. CaseWhen.branches); only a subquery's
        # plan is extra
        if cls.startswith(_EXPR) and name != "plan":
            continue
        for flat in _nested(v):
            for t in _trees(flat):
                _scan(t, False, memo, out)
    lam, attr, cheap = _info(tree, memo)
    if in_body and not lam:
        if attr and not cheap:
            out.append(_render(tree))
        return
    if cls == _LAMBDA_FN:
        _scan(kids[0], True, memo, out)  # kids[1:] are the lambda's variables
        return
    for k in kids:
        _scan(k, in_body, memo, out)


def _info(tree, memo: dict) -> tuple[bool, bool, bool]:
    """(reads a lambda variable, reads a row attribute, is cheap)."""
    node, kids = tree
    got = memo.get(id(node))
    if got is None:
        cls = node["class"]
        sub = [_info(k, memo) for k in kids]
        got = (
            cls == _LAMBDA_VAR or any(s[0] for s in sub),
            cls in _ROW_ATTRS or any(s[1] for s in sub),
            cls in _CHEAP and all(s[2] for s in sub),
        )
        memo[id(node)] = got
    return got


def lambda_invariants(df: DataFrame) -> list[str]:
    """The lambda-invariant row subexpressions in ``df``'s analyzed plan,
    rendered one per string (empty when the plan is clean)."""
    flat = json.loads(df._jdf.queryExecution().analyzed().toJSON())
    out: list[str] = []
    memo: dict = {}
    for t in _trees(flat):
        _scan(t, False, memo, out)
    return list(dict.fromkeys(out))
