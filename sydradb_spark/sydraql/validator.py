"""sydraQL validator / analyzer.

Policy rules from reference src/sydra/query/validator.zig:57-139 plus type
inference from type_inference.zig:92-135. These are rules Spark will NOT
enforce for us (SURVEY §4.3), so they run on the AST before translation:

1. SELECT-with-FROM and DELETE require a time predicate in WHERE.
2. Unknown functions are rejected (closed registry).
3. Arity / parameter-type checks against the registry signatures.
4. Semantic pins: ``%`` is integer-only (expression.zig:124); division by a
   literal zero raises DivisionByZero (expression.zig:119-122).
5. Aggregates may not be nested inside aggregates.
6. A ``time_bucket`` step is a positive integer literal (seconds).
"""

from __future__ import annotations

from sydradb_spark.errors import (
    ArityMismatch,
    DivisionByZero,
    TimeRangeRequired,
    TypeMismatch,
    UnknownFunction,
    ValidationError,
)
from sydradb_spark.sydraql import ast
from sydradb_spark.sydraql.functions import AGGREGATES, Kind, REGISTRY, Ty, WINDOW_FUNCS, accepts

_LITERAL_TYPES = {
    "int": Ty.INTEGER,
    "float": Ty.FLOAT,
    "string": Ty.STRING,
    "bool": Ty.BOOLEAN,
    "null": Ty.NULL,
    "duration": Ty.DURATION,
    "timestamp": Ty.TIMESTAMP,
}

# functions that need a materialized per-series window column and therefore
# cannot appear in WHERE (the pre-pass materializes only select/order/group
# expressions): the WINDOW kind plus fill_forward, which is Kind.FILL but
# window-backed in the translator (r14 review — it previously leaked an
# internal 'column not materialized' error from WHERE)
_WINDOWISH = WINDOW_FUNCS | {"fill_forward"}

_COMPARISONS = {
    ast.BinOp.EQ,
    ast.BinOp.NEQ,
    ast.BinOp.LT,
    ast.BinOp.LTE,
    ast.BinOp.GT,
    ast.BinOp.GTE,
    ast.BinOp.REGEX_MATCH,
    ast.BinOp.REGEX_NOT_MATCH,
}


def infer_type(expr: ast.Expr) -> Ty:
    """Static type of an expression (type_inference.zig:92-135)."""
    if isinstance(expr, ast.Literal):
        return _LITERAL_TYPES[expr.kind]
    if isinstance(expr, ast.Identifier):
        name = expr.name
        if name == "time":
            return Ty.TIMESTAMP
        if name.startswith("tag."):
            return Ty.STRING
        if name == "value":
            return Ty.VALUE
        # aliases / unknown identifiers resolve later (grouping aliases)
        return Ty.ANY
    if isinstance(expr, ast.Unary):
        if expr.op == ast.UnOp.NOT:
            return Ty.BOOLEAN
        return infer_type(expr.operand)
    if isinstance(expr, ast.Binary):
        if expr.op in (ast.BinOp.AND, ast.BinOp.OR) or expr.op in _COMPARISONS:
            return Ty.BOOLEAN
        if expr.op == ast.BinOp.MOD:
            return Ty.INTEGER
        lt, rt = infer_type(expr.left), infer_type(expr.right)
        if lt == Ty.INTEGER and rt == Ty.INTEGER and expr.op != ast.BinOp.DIV:
            return Ty.INTEGER
        return Ty.FLOAT
    if isinstance(expr, ast.Call):
        sig = REGISTRY.get(expr.func)
        return sig.returns if sig else Ty.ANY
    return Ty.ANY


_NUMERICISH = {Ty.INTEGER, Ty.FLOAT, Ty.NUMERIC, Ty.VALUE, Ty.ANY, Ty.DURATION, Ty.TIMESTAMP, Ty.NULL}


def _walk(expr: ast.Expr):
    yield expr
    if isinstance(expr, ast.Unary):
        yield from _walk(expr.operand)
    elif isinstance(expr, ast.Binary):
        yield from _walk(expr.left)
        yield from _walk(expr.right)
    elif isinstance(expr, ast.Call):
        for a in expr.args:
            yield from _walk(a)


def contains_aggregate(expr: ast.Expr) -> bool:
    return any(isinstance(e, ast.Call) and e.func in AGGREGATES for e in _walk(expr))


def _has_time_predicate(expr: ast.Expr | None) -> bool:
    """True if any conjunct constrains ``time`` with a comparison.

    The reference walks WHERE looking for a time comparison
    (validator.zig:57-95); OR branches count only if both sides constrain
    time — we use the simpler presence rule the reference tests pin."""
    if expr is None:
        return False
    for e in _walk(expr):
        if isinstance(e, ast.Binary) and e.op in _COMPARISONS:
            for side in (e.left, e.right):
                if isinstance(side, ast.Identifier) and side.name == "time":
                    return True
    return False


def _check_expr(expr: ast.Expr, *, in_aggregate: bool = False) -> None:
    if isinstance(expr, ast.Binary):
        if expr.op == ast.BinOp.MOD:
            for side in (expr.left, expr.right):
                t = infer_type(side)
                # r14 front-end review: STRING/BOOLEAN slipped through the
                # FLOAT-only rejection and reached try_mod as a silent null
                if t in (Ty.FLOAT, Ty.STRING, Ty.BOOLEAN):
                    raise TypeMismatch("'%' requires integer operands", pos=expr.pos)
        if expr.op == ast.BinOp.DIV:
            r = expr.right
            if isinstance(r, ast.Literal) and r.kind in ("int", "float") and float(r.value) == 0.0:
                raise DivisionByZero("division by zero", pos=expr.pos)
        if expr.op in (ast.BinOp.ADD, ast.BinOp.SUB, ast.BinOp.MUL, ast.BinOp.DIV):
            for side in (expr.left, expr.right):
                t = infer_type(side)
                if t not in _NUMERICISH:
                    raise TypeMismatch(
                        f"arithmetic requires numeric operands, got {t.value}", pos=expr.pos
                    )
        if expr.op in (ast.BinOp.REGEX_MATCH, ast.BinOp.REGEX_NOT_MATCH):
            if not isinstance(expr.right, ast.Literal) or expr.right.kind != "string":
                raise TypeMismatch("regex match requires a string pattern literal", pos=expr.pos)
        _check_expr(expr.left, in_aggregate=in_aggregate)
        _check_expr(expr.right, in_aggregate=in_aggregate)
        return
    if isinstance(expr, ast.Unary):
        _check_expr(expr.operand, in_aggregate=in_aggregate)
        return
    if isinstance(expr, ast.Call):
        sig = REGISTRY.get(expr.func)
        if sig is None:
            raise UnknownFunction(f"unknown function '{expr.func}'", pos=expr.pos)
        if not sig.arity_ok(len(expr.args)):
            raise ArityMismatch(
                f"{expr.func} expects {len(sig.params)} argument(s), got {len(expr.args)}",
                pos=expr.pos,
            )
        if expr.func == "time_bucket":
            # FILL's spine, the rollup fold and the one-pass plan bound all
            # step in whole seconds; a fractional step would disagree with
            # the bucket expression, which keeps the fraction
            step = expr.args[0]
            if not (
                isinstance(step, ast.Literal)
                and step.kind in ("int", "duration")
                and step.value > 0
            ):
                raise ValidationError(
                    "time_bucket step must be a positive integer literal (seconds)",
                    pos=step.pos,
                )
        if sig.kind == Kind.AGGREGATE:
            if in_aggregate:
                raise ValidationError("nested aggregate calls are not allowed", pos=expr.pos)
            in_agg = True
        else:
            in_agg = in_aggregate
        for i, arg in enumerate(expr.args):
            if not sig.variadic and i < len(sig.params):
                at = infer_type(arg)
                if at != Ty.ANY and not accepts(sig.params[i].ty, at):
                    raise TypeMismatch(
                        f"{expr.func} argument {i + 1} expects {sig.params[i].ty.value}, got {at.value}",
                        pos=arg.pos,
                    )
            _check_expr(arg, in_aggregate=in_agg)
        return
    # literals / identifiers: nothing to check


def validate(stmt: ast.Statement) -> None:
    """Raise a ValidationError subclass on rule violation; return None if OK."""
    if isinstance(stmt, ast.Explain):
        return validate(stmt.inner)
    if isinstance(stmt, ast.Delete):
        if not _has_time_predicate(stmt.where):
            raise TimeRangeRequired("DELETE requires a time predicate in WHERE")
        if stmt.where is not None:
            # r14 front-end review: mirror the SELECT WHERE rules — an
            # aggregate errored only at translate time, and a window call
            # leaked an INTERNAL 'column not materialized' error to the user
            if contains_aggregate(stmt.where):
                raise ValidationError("aggregate calls are not allowed in WHERE")
            for e in _walk(stmt.where):
                if isinstance(e, ast.Call) and e.func in _WINDOWISH:
                    raise ValidationError(
                        f"window function '{e.func}' is not allowed in WHERE",
                        pos=e.pos,
                    )
            _check_expr(stmt.where)
        return
    if isinstance(stmt, ast.Insert):
        for row in stmt.rows:
            if stmt.columns and len(row) != len(stmt.columns):
                raise ValidationError("VALUES tuple arity does not match column list")
            for e in row:
                _check_expr(e)
        return
    assert isinstance(stmt, ast.Select)
    if stmt.selector is not None and not _has_time_predicate(stmt.where):
        raise TimeRangeRequired("SELECT with FROM requires a time predicate in WHERE")
    for item in stmt.items:
        _check_expr(item.expr)
    if stmt.where is not None:
        if contains_aggregate(stmt.where):
            raise ValidationError("aggregate calls are not allowed in WHERE")
        for e in _walk(stmt.where):
            if isinstance(e, ast.Call) and e.func in _WINDOWISH:
                raise ValidationError(
                    f"window function '{e.func}' is not allowed in WHERE", pos=e.pos
                )
        _check_expr(stmt.where)
    for g in stmt.group_by:
        if contains_aggregate(g):
            raise ValidationError("aggregate calls are not allowed in GROUP BY")
        _check_expr(g)
    if stmt.fill is not None and stmt.fill.kind == "constant" and stmt.fill.constant is not None:
        _check_expr(stmt.fill.constant)
    if stmt.fill is not None and not stmt.group_by:
        raise ValidationError("FILL requires GROUP BY")
    for o in stmt.order_by:
        _check_expr(o.expr)
