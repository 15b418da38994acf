"""AST → DataFrame translator.

This replaces the reference's plan builder + optimizer + physical planner +
Volcano executor (src/sydra/query/{plan,optimizer,physical,operator}.zig)
with a single declarative translation: we emit DataFrame transformations and
let Catalyst do predicate pushdown, project collapsing, filter merging,
top-k fusion, and partition pruning (SURVEY §4.1 — every reference rewrite
is a Catalyst built-in except ts→hour_bucket derivation, handled here).

Column naming scheme (drives the output schema):
- aliased items use the alias;
- identifiers: ``time`` → time, ``value`` → value, ``tag.k`` → tag_k;
- unaliased calls: ``<func>_<n>`` with n counting that function's
  occurrences in the statement (so ``group by time_bucket(60, time)`` is
  addressable as ``time_bucket_0`` — SURVEY §7.1's example query);
- other unaliased expressions: ``col<n>`` by select-item position.
"""

from __future__ import annotations

import time as _time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sydradb_spark.errors import SydraQLError, ValidationError
from sydradb_spark.functions import chunked as ck
from sydradb_spark.functions import fill as fill_mod
from sydradb_spark.functions import timeseries as ts_fn
from sydradb_spark.sydraql import ast
from sydradb_spark.sydraql.functions import AGGREGATES, WINDOW_FUNCS
from sydradb_spark.sydraql.validator import contains_aggregate


def canon(e: ast.Expr) -> str:
    """Canonical text of an expression — used to match GROUP BY exprs against
    select items and to dedupe aggregate calls (the reference compares
    expression trees structurally, optimizer.zig:570-607)."""
    if isinstance(e, ast.Literal):
        return f"{e.kind}:{e.value!r}"
    if isinstance(e, ast.Identifier):
        return e.name
    if isinstance(e, ast.Unary):
        return f"({e.op.value} {canon(e.operand)})"
    if isinstance(e, ast.Binary):
        return f"({canon(e.left)} {e.op.value} {canon(e.right)})"
    if isinstance(e, ast.Call):
        return f"{e.func}({', '.join(canon(a) for a in e.args)})"
    raise TypeError(f"unknown expr {e!r}")


def _walk(e: ast.Expr):
    yield e
    if isinstance(e, ast.Unary):
        yield from _walk(e.operand)
    elif isinstance(e, ast.Binary):
        yield from _walk(e.left)
        yield from _walk(e.right)
    elif isinstance(e, ast.Call):
        for a in e.args:
            yield from _walk(a)


def _literal_value(e: ast.Expr) -> object:
    if isinstance(e, ast.Literal):
        return e.value
    if isinstance(e, ast.Unary) and e.op == ast.UnOp.NEG and isinstance(e.operand, ast.Literal):
        return -e.operand.value  # type: ignore[operator]
    raise ValidationError("expected a literal argument")


@dataclass
class Translation:
    df: DataFrame
    columns: list[str]


def time_bounds_from_where(where: ast.Expr | None) -> tuple[int | None, int | None]:
    """Literal time bounds from the WHERE conjuncts (reference TimeBounds
    extraction, physical.zig:138-264). Over-approximates: only top-level AND
    conjuncts shaped ``time <op> literal`` (either side) tighten the bounds,
    which is exactly what partition pruning needs — a missed conjunct only
    means less pruning, never a wrong result."""
    mn: int | None = None
    mx: int | None = None

    def conjuncts(e: ast.Expr):
        if isinstance(e, ast.Binary) and e.op == ast.BinOp.AND:
            yield from conjuncts(e.left)
            yield from conjuncts(e.right)
        else:
            yield e

    flip = {
        ast.BinOp.LT: ast.BinOp.GT,
        ast.BinOp.LTE: ast.BinOp.GTE,
        ast.BinOp.GT: ast.BinOp.LT,
        ast.BinOp.GTE: ast.BinOp.LTE,
        ast.BinOp.EQ: ast.BinOp.EQ,  # r14: exact-time queries prune too
    }
    if where is None:
        return None, None
    for e in conjuncts(where):
        if not (isinstance(e, ast.Binary) and e.op in flip):
            continue
        left, right, op = e.left, e.right, e.op
        if not (isinstance(left, ast.Identifier) and left.name == "time"):
            if isinstance(right, ast.Identifier) and right.name == "time":
                left, right, op = right, left, flip[op]
            else:
                continue
        try:
            lit = int(_literal_value(right))
        except (ValidationError, TypeError, ValueError):
            continue
        if op == ast.BinOp.EQ:
            # time = X tightens BOTH bounds — previously derived nothing,
            # so an exact-time point lookup full-scanned every partition
            # (r14 front-end review)
            mn = lit if mn is None else max(mn, lit)
            mx = lit if mx is None else min(mx, lit)
        elif op in (ast.BinOp.GT, ast.BinOp.GTE):
            mn = lit if mn is None else max(mn, lit)
        else:
            mx = lit if mx is None else min(mx, lit)
    return mn, mx


# --- plan selection -----------------------------------------------------------
# The per-series window pre-pass and FILL have two plans each: a one-pass plan
# and the chunk-and-carry plan that keeps every partition bounded at any scale
# (functions/chunked.py, functions/fill.py). The WHERE filter runs before
# either, so the literal time bounds of a closed range bound every partition
# the one-pass plan builds; these two predicates are the only place that
# picks. ``span`` is ``mx - mn`` of ``time_bounds_from_where``, None unless
# both bounds exist.


def one_pass_windows(span: int | None, dur_s: int = 0) -> bool:
    """Per-series windows run unchunked when the range fits one window chunk
    (the chunk is widened to ``dur_s`` for moving_avg, as its chunked form
    does): no series then holds more rows than one chunked partition."""
    return span is not None and span <= max(ck.WINDOW_CHUNK_S, dur_s)


def one_pass_fill(span: int | None, bucket: ast.Call) -> bool:
    """FILL runs as one window pass when no group's spine can exceed one
    spine chunk. ``bucket`` is the FILL's ``time_bucket(step, time[,
    origin])`` grouping (the validator makes ``step`` a positive integer
    literal); over bare ``time`` in ``[mn, mx]`` with a constant origin it
    yields at most ``(mx - mn) // step + 2`` buckets per group. A bucket
    over any other expression of ``time`` has no such bound."""
    over = bucket.args[1]
    if span is None or not (isinstance(over, ast.Identifier) and over.name == "time"):
        return False
    try:
        for origin in bucket.args[2:]:
            _literal_value(origin)
    except ValidationError:
        return False
    return span // int(_literal_value(bucket.args[0])) + 2 <= fill_mod.CHUNK_BUCKETS


@dataclass
class _Ctx:
    """Per-query translation state."""

    now_epoch: int = field(default_factory=lambda: int(_time.time()))
    has_from: bool = True
    # mx - mn of the WHERE's literal time bounds; None unless both exist
    time_span: int | None = None
    # post-aggregation scope: canon → output Column name
    post_scope: dict[str, str] | None = None
    select_aliases: dict[str, ast.Expr] = field(default_factory=dict)
    ema_requests: list[tuple[str, float, str]] = field(default_factory=list)  # (canon, alpha, col)
    window_requests: dict[str, str] = field(default_factory=dict)  # canon → materialized col


class Translator:
    """Compiles one validated SELECT to a DataFrame over the points table.

    With a materialized ``rollup`` (rollup.build_rollup output at
    ``rollup_step``), eligible ``GROUP BY time_bucket(...)`` aggregates are
    served from it instead of raw points — the reference's rollup hint
    (plan.zig:283-293) actually consumed by the planner."""

    def __init__(self, points: DataFrame, spark=None, rollup=None, rollup_step: int = 3600):
        self.points = points
        self.spark = spark or points.sparkSession
        self.rollup = rollup
        self.rollup_step = rollup_step

    # ------------------------------------------------------------------
    def translate(self, sel: ast.Select) -> Translation:
        ctx = _Ctx(has_from=sel.selector is not None)
        ctx.select_aliases = {
            item.alias.lower(): item.expr for item in sel.items if item.alias
        }

        if sel.selector is None:
            return self._translate_onerow(sel, ctx)

        rolled = self._try_rollup(sel, ctx)
        if rolled is not None:
            return rolled

        base = self._resolve_selector(sel.selector)
        if sel.where is not None:
            mn, mx = time_bounds_from_where(sel.where)
            if mn is not None and mx is not None:
                ctx.time_span = mx - mn
            if "hour_bucket" in base.columns:
                # derive hour_bucket partition bounds from ts bounds — the
                # one rewrite Catalyst cannot do (SURVEY §4.1); on a stored
                # table this turns a full scan into a partition-pruned one.
                from sydradb_spark.storage import hour_bucket_bounds

                hb = hour_bucket_bounds(mn, mx)
                if hb is not None:
                    base = base.filter(hb)
            if "__ns" in base.columns:
                # rewrite ts bounds onto the raw nanosecond parquet column
                # (tables.normalize_events) — Catalyst cannot invert
                # ``ts div 1e9``, so without this no time predicate reaches
                # the events scan as a PushedFilter. mx is an inclusive
                # over-approximation; ts <= mx ⇒ __ns < (mx+1)·1e9.
                if mn is not None:
                    base = base.filter(F.col("__ns") >= mn * 1_000_000_000)
                if mx is not None:
                    base = base.filter(F.col("__ns") < (mx + 1) * 1_000_000_000)
            elif "__tsr" in base.columns:
                # same rewrite for the micros-parquet variant: __tsr is the
                # raw TIMESTAMP(_NTZ) column; cast the epoch-second literal
                # to its exact type (constant-folded, so the comparison still
                # reaches the scan as a PushedFilter).
                tsr_type = dict(base.dtypes)["__tsr"]
                if mn is not None:
                    base = base.filter(
                        F.col("__tsr")
                        >= F.timestamp_seconds(F.lit(mn)).cast(tsr_type)
                    )
                if mx is not None:
                    base = base.filter(
                        F.col("__tsr")
                        < F.timestamp_seconds(F.lit(mx + 1)).cast(tsr_type)
                    )
            base = base.filter(self._row(sel.where, ctx, base))

        needs_agg = bool(sel.group_by) or any(
            contains_aggregate(i.expr) for i in sel.items
        )
        if needs_agg:
            return self._translate_aggregate(sel, ctx, base)
        return self._translate_simple(sel, ctx, base)

    # --- rollup-aware rewrite ---------------------------------------------
    _ROLLUP_FUNCS = ("avg", "sum", "count", "min", "max", "first", "last")

    @staticmethod
    def _rollup_agg_expr(func: str) -> Column:
        return {
            # cnt_v divisor (r13 review): avg over a bucket holding null
            # values must divide by the non-null count, like F.avg does
            "avg": F.col("sum_v") / F.col("cnt_v"),
            "sum": F.col("sum_v"),
            "count": F.col("cnt"),
            "min": F.col("min_v"),
            "max": F.col("max_v"),
            "first": F.col("first_v"),
            "last": F.col("last_v"),
        }[func]

    def _try_rollup(self, sel: ast.Select, ctx: _Ctx) -> Translation | None:
        """Serve the query from the materialized rollup when that is exactly
        equivalent. Strict eligibility (any miss → None, raw path runs):

        - selector by_id or plain name (tags live only in raw points);
        - WHERE is solely ``time >= A and time < B`` conjuncts with A, B
          multiples of the rollup step (partial edge buckets can't be served);
        - one grouping: 2-arg time_bucket whose step is a multiple of the
          rollup step (origin shifts would misalign buckets);
        - aggregates drawn from the associative set avg/sum/count()/min/max/
          first/last over ``value``;
        - no FILL (the raw path handles it).
        """
        if self.rollup is None or sel.selector is None or sel.fill is not None:
            return None
        if sel.selector.kind == "name" and sel.selector.tags:
            return None

        def conjuncts(e: ast.Expr):
            if isinstance(e, ast.Binary) and e.op == ast.BinOp.AND:
                yield from conjuncts(e.left)
                yield from conjuncts(e.right)
            else:
                yield e

        mn = mx = None
        if sel.where is not None:
            flip = {ast.BinOp.LT: ast.BinOp.GT, ast.BinOp.GTE: ast.BinOp.LTE,
                    ast.BinOp.GT: ast.BinOp.LT, ast.BinOp.LTE: ast.BinOp.GTE}
            for e in conjuncts(sel.where):
                if not (isinstance(e, ast.Binary) and e.op in flip):
                    return None
                left, right, op = e.left, e.right, e.op
                if not (isinstance(left, ast.Identifier) and left.name == "time"):
                    if isinstance(right, ast.Identifier) and right.name == "time":
                        left, right, op = right, left, flip[op]
                    else:
                        return None
                try:
                    lit = int(_literal_value(right))
                except (ValidationError, TypeError, ValueError):
                    return None
                if lit % self.rollup_step != 0:
                    return None
                if op == ast.BinOp.GTE:
                    mn = lit if mn is None else max(mn, lit)
                elif op == ast.BinOp.LT:
                    mx = lit if mx is None else min(mx, lit)
                else:
                    return None  # > / <= shift bucket edges by one point

        groups = []
        for g in sel.group_by:
            if isinstance(g, ast.Identifier) and g.name in ctx.select_aliases:
                groups.append(ctx.select_aliases[g.name])
            else:
                groups.append(g)
        if len(groups) != 1:
            return None
        g = groups[0]
        if not (
            isinstance(g, ast.Call)
            and g.func == "time_bucket"
            and len(g.args) in (2, 3)
            and isinstance(g.args[1], ast.Identifier)
            and g.args[1].name == "time"
        ):
            return None
        try:
            step = int(_literal_value(g.args[0]))
        except (ValidationError, TypeError, ValueError):
            return None
        if step <= 0 or step % self.rollup_step != 0:
            return None
        if len(g.args) == 3:
            # 3-arg origin shifts bucket BOUNDARIES by origin mod step; when
            # origin ≡ 0 (mod step) the boundaries — and the bucket labels:
            # origin + floor((t-origin)/step)*step == floor(t/step)*step —
            # are exactly the 2-arg ones, so the same rollup serves it
            # (r10 verdict item 8; previously fell back to raw scans)
            try:
                origin = int(_literal_value(g.args[2]))
            except (ValidationError, TypeError, ValueError):
                return None
            if origin % step != 0:
                return None

        agg_calls: dict[str, ast.Call] = {}
        for e in [it.expr for it in sel.items] + [o.expr for o in sel.order_by]:
            for node in _walk(e):
                if isinstance(node, ast.Call) and node.func in AGGREGATES:
                    agg_calls.setdefault(canon(node), node)
        if not agg_calls:
            return None
        for call in agg_calls.values():
            if call.func not in self._ROLLUP_FUNCS:
                return None
            if call.func == "count":
                if call.args:  # count(x) counts non-nulls; rollup cnt counts rows
                    return None
            elif not (
                len(call.args) == 1
                and isinstance(call.args[0], ast.Identifier)
                and call.args[0].name == "value"
            ):
                return None

        r = self.rollup
        if sel.selector.kind == "by_id":
            r = r.where(F.col("series_id") == F.lit(sel.selector.series_id))
        else:
            r = r.where(F.col("series") == F.lit(sel.selector.name))
        if mn is not None:
            r = r.where(F.col("bucket") >= mn)
        if mx is not None:
            r = r.where(F.col("bucket") < mx)

        names = self._output_names(sel)
        bucket_name = self._group_name(g, 0, {canon(it.expr): n for it, n in names})
        # one fold handles both coarsening (hour→step) and the cross-series
        # merge a name selector implies — every statistic is associative
        folded = r.groupBy(
            ts_fn.time_bucket(step, F.col("bucket")).alias(bucket_name)
        ).agg(
            F.sum("cnt").alias("cnt"),
            F.sum("cnt_v").alias("cnt_v"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            # struct tie-break mirrors rollup.combine_rollup (r13): equal
            # first_ts/last_ts across merged rows must break on the value,
            # matching build_rollup's struct(ts, value) ordering
            F.min_by("first_v", F.struct("first_ts", "first_v")).alias("first_v"),
            F.max_by("last_v", F.struct("last_ts", "last_v")).alias("last_v"),
        )

        ctx.post_scope = {canon(g): bucket_name}
        out_exprs = {canon(c): self._rollup_agg_expr(c.func) for c in agg_calls.values()}
        for c_str, colexpr in out_exprs.items():
            alias = f"__ragg_{len(ctx.post_scope)}"
            folded = folded.withColumn(alias, colexpr)
            ctx.post_scope[c_str] = alias

        out_cols = [self._post(item.expr, ctx, folded).alias(name) for item, name in names]
        projected = {canon(item.expr) for item, _ in names}
        extra = [] if canon(g) in projected else [bucket_name]
        out = folded.select(*[F.col(n) for n in extra], *out_cols)
        final_names = extra + [n for _, n in names]
        name_by_canon = {canon(item.expr): name for item, name in names}
        name_by_canon.setdefault(canon(g), bucket_name)
        out = self._order_limit(sel, ctx, out, name_by_canon)
        return Translation(df=out, columns=final_names)

    # --- FROM resolution ------------------------------------------------
    def _resolve_selector(self, selector: ast.Selector) -> DataFrame:
        """by_id(N) → series_id equality; name → series equality. Filters on
        the partitioned points table prune to matching files (the Spark
        equivalent of manifest pruning, segment.zig:116-118)."""
        if selector.kind == "by_id":
            return self.points.where(F.col("series_id") == F.lit(selector.series_id))
        df = self.points.where(F.col("series") == F.lit(selector.name))
        if "__ssrc" in df.columns and "." in selector.name:
            # redundant equality on the raw source column behind the series
            # suffix (tables.events_points invariant: __ssrc == series after
            # the first '.') — a literal comparison Catalyst pushes to the
            # scan, unlike the un-invertible series concat.
            df = df.where(
                F.col("__ssrc") == F.lit(selector.name.split(".", 1)[1])
            )
        if selector.tags:
            for k, v in selector.tags.items():
                df = df.where(F.col("tags").getItem(k) == F.lit(v))
        return df

    # --- output naming ----------------------------------------------------
    def _output_names(self, sel: ast.Select) -> list[tuple[ast.SelectItem, str]]:
        func_counts: dict[str, int] = {}
        names: list[tuple[ast.SelectItem, str]] = []
        used: set[str] = set()
        for idx, item in enumerate(sel.items):
            if item.alias:
                name = item.alias
            elif isinstance(item.expr, ast.Identifier):
                name = item.expr.name.replace("tag.", "tag_")
            elif isinstance(item.expr, ast.Call):
                n = func_counts.get(item.expr.func, 0)
                func_counts[item.expr.func] = n + 1
                name = f"{item.expr.func}_{n}"
            else:
                name = f"col{idx}"
            while name in used:
                name = name + "_"
            used.add(name)
            names.append((item, name))
        return names

    def _group_name(self, g: ast.Expr, gi: int, item_names: dict[str, str]) -> str:
        """Name for a grouping expression's output column."""
        c = canon(g)
        if c in item_names:
            return item_names[c]
        if isinstance(g, ast.Identifier):
            return g.name.replace("tag.", "tag_")
        if isinstance(g, ast.Call):
            return f"{g.func}_{gi}"
        return f"group{gi}"

    # --- expression translation (row scope) -----------------------------
    def _row(self, e: ast.Expr, ctx: _Ctx, df: DataFrame) -> Column:
        if isinstance(e, ast.Literal):
            if e.kind == "null":
                return F.lit(None)
            return F.lit(e.value)
        if isinstance(e, ast.Identifier):
            name = e.name
            if name == "time":
                return F.col("ts")
            if name == "value":
                return F.col("value")
            if name.startswith("tag."):
                return F.col("tags").getItem(name[4:])
            if name in ctx.select_aliases:
                return self._row(ctx.select_aliases[name], ctx, df)
            raise ValidationError(f"unknown identifier '{name}'", pos=e.pos)
        if isinstance(e, ast.Unary):
            inner = self._row(e.operand, ctx, df)
            if e.op == ast.UnOp.NEG:
                return -inner
            if e.op == ast.UnOp.NOT:
                return ~inner
            return inner
        if isinstance(e, ast.Binary):
            return self._binary(e, ctx, df)
        if isinstance(e, ast.Call):
            return self._call(e, ctx, df)
        raise SydraQLError(f"cannot translate expression {e!r}")

    def _binary(self, e: ast.Binary, ctx: _Ctx, df: DataFrame) -> Column:
        op = e.op
        l = self._row(e.left, ctx, df)
        if op == ast.BinOp.REGEX_MATCH:
            return l.rlike(str(_literal_value(e.right)))
        if op == ast.BinOp.REGEX_NOT_MATCH:
            return ~l.rlike(str(_literal_value(e.right)))
        r = self._row(e.right, ctx, df)
        if op == ast.BinOp.AND:
            return l & r
        if op == ast.BinOp.OR:
            return l | r
        if op == ast.BinOp.EQ:
            return l == r
        if op == ast.BinOp.NEQ:
            return l != r
        if op == ast.BinOp.LT:
            return l < r
        if op == ast.BinOp.LTE:
            return l <= r
        if op == ast.BinOp.GT:
            return l > r
        if op == ast.BinOp.GTE:
            return l >= r
        if op == ast.BinOp.ADD:
            return l + r
        if op == ast.BinOp.SUB:
            return l - r
        if op == ast.BinOp.MUL:
            return l * r
        if op == ast.BinOp.DIV:
            # reference: float division, errors on /0 (expression.zig:119-122);
            # we return null on runtime zero (documented delta, SURVEY §7.2).
            # try_divide pins that even on ANSI-mode sessions (the driver's
            # default session has spark.sql.ansi.enabled=true).
            return F.try_divide(l.cast("double"), r)
        if op == ast.BinOp.MOD:
            return F.try_mod(l, r)
        raise SydraQLError(f"unhandled binary op {op}")

    def _call(self, e: ast.Call, ctx: _Ctx, df: DataFrame) -> Column:
        f = e.func
        if f in AGGREGATES:
            raise ValidationError(f"aggregate '{f}' not allowed here", pos=e.pos)
        a = [self._row(x, ctx, df) for x in e.args]
        if f == "abs":
            return F.abs(a[0]).cast("double")
        if f == "ceil":
            return F.ceil(a[0]).cast("double")
        if f == "floor":
            return F.floor(a[0]).cast("double")
        if f == "round":
            return F.round(a[0].cast("double"), 0)
        if f == "pow":
            return F.pow(a[0], a[1])
        if f == "ln":
            return F.log(a[0])
        if f == "sqrt":
            return F.sqrt(a[0])
        if f == "now":
            # deterministic: fixed at translate time (SURVEY §7.2 hard part 3)
            return F.lit(ctx.now_epoch)
        if f == "time_bucket":
            origin = a[2] if len(a) > 2 else 0
            return ts_fn.time_bucket(a[0], a[1], origin)
        if f == "coalesce":
            return F.coalesce(*a)
        if f == "fill_forward":
            return self._window_call(e, a, ctx)
        if f in WINDOW_FUNCS:
            return self._window_call(e, a, ctx)
        raise SydraQLError(f"no translation for function '{f}'")

    def _window_call(self, e: ast.Call, a: list[Column], ctx: _Ctx) -> Column:
        # Every window function is materialized by a pre-pass
        # (_materialize_windows / _materialize_emas) as a physical column,
        # computed in bounded (series_id, time-chunk) partitions unless the
        # time range fits one chunk (functions/chunked.py) — an unbounded
        # Window.partitionBy("series_id") would bind one series to one task.
        if not ctx.has_from:
            raise ValidationError(f"window function '{e.func}' requires FROM", pos=e.pos)
        c = canon(e)
        col = ctx.window_requests.get(c)
        if col is not None:
            return F.col(col)
        for cc, _alpha, colname in ctx.ema_requests:
            if cc == c:
                return F.col(colname)
        raise SydraQLError(f"internal: window column for '{e.func}' not materialized")

    # --- simple (non-aggregate) SELECT -----------------------------------
    def _translate_simple(self, sel: ast.Select, ctx: _Ctx, base: DataFrame) -> Translation:
        base = self._materialize_emas(sel, ctx, base)
        base = self._materialize_windows(sel, ctx, base)
        names = self._output_names(sel)
        cols = [self._row(item.expr, ctx, base).alias(name) for item, name in names]
        if not sel.order_by and ctx.has_from:
            # Implicit ascending-time ordering (sydraql-design.md:135) must
            # hold even when `time` is not projected: carry hidden sort keys
            # through the projection, sort, then drop them. Sorting after the
            # projection (not before) survives the shuffle a window function
            # in the select list would introduce. (ts, value) tiebreak keeps
            # duplicate-timestamp output deterministic.
            out = base.select(*cols, F.col("ts").alias("__ts"), F.col("value").alias("__tv"))
            out = out.orderBy(F.col("__ts").asc(), F.col("__tv").asc()).drop("__ts", "__tv")
        else:
            out = base.select(*cols)
        name_by_canon = {canon(item.expr): name for item, name in names}

        out = self._order_limit(sel, ctx, out, name_by_canon, base=base, names=names)
        return Translation(df=out, columns=[n for _, n in names])

    def _materialize_emas(self, sel: ast.Select, ctx: _Ctx, base: DataFrame) -> DataFrame:
        """Pre-pass: each distinct ema(...) call becomes a physical column via
        grouped-map pandas UDF (the one reference function Spark built-ins
        can't express — SURVEY §2.5)."""
        seen: set[str] = set()
        i = 0
        exprs = (
            [it.expr for it in sel.items]
            + [o.expr for o in sel.order_by]
            + list(sel.group_by)
        )
        for e in exprs:
            for node in _walk(e):
                if isinstance(node, ast.Call) and node.func == "ema":
                    c = canon(node)
                    if c in seen:
                        continue
                    seen.add(c)
                    alpha = float(_literal_value(node.args[2]))
                    src = self._row(node.args[0], ctx, base)
                    srccol = f"__ema_src_{i}"
                    outcol = f"__ema_{i}"
                    base = base.withColumn(srccol, src.cast("double"))
                    base = ts_fn.with_ema(base, srccol, outcol, alpha)
                    ctx.ema_requests.append((c, alpha, outcol))
                    i += 1
        return base

    _WINDOW_PREPASS = ("lag", "lead", "fill_forward", "moving_avg")

    def _materialize_windows(self, sel: ast.Select, ctx: _Ctx, base: DataFrame) -> DataFrame:
        """Pre-pass: lag/lead/fill_forward/moving_avg become physical columns.
        A query whose literal time range fits one window chunk
        (``one_pass_windows``) runs one window per call partitioned by
        series_id alone; any other query runs the chunk-and-carry forms
        (functions/chunked.py), whose bounded (series_id, time-chunk)
        partitions keep a hot series from binding to one task. Both give
        the same rows in the same canonical (ts, value) order."""
        exprs = (
            [it.expr for it in sel.items]
            + [o.expr for o in sel.order_by]
            + list(sel.group_by)
        )
        i = 0
        for e in exprs:
            # reversed pre-order = children before parents, so nested calls
            # like fill_forward(lag(x)) materialize the inner lag first and
            # the outer call's source resolves to its physical column
            for node in reversed(list(_walk(e))):
                if not (
                    isinstance(node, ast.Call) and node.func in self._WINDOW_PREPASS
                ):
                    continue
                c = canon(node)
                if c in ctx.window_requests:
                    continue
                if not ctx.has_from:
                    raise ValidationError(
                        f"window function '{node.func}' requires FROM", pos=node.pos
                    )
                srccol = f"__wsrc_{i}"
                outcol = f"__win_{i}"
                base = base.withColumn(srccol, self._row(node.args[0], ctx, base))
                dur = int(_literal_value(node.args[1])) if node.func == "moving_avg" else 0
                plain = one_pass_windows(ctx.time_span, dur)
                if node.func in ("lag", "lead"):
                    n = int(_literal_value(node.args[1])) if len(node.args) > 1 else 1
                    lag_lead = ck.with_lag_lead if plain else ck.with_chunked_lag_lead
                    base = lag_lead(base, [ck.LagRequest(srccol, outcol, n, node.func)])
                elif node.func == "fill_forward":
                    ff = ck.with_fill_forward if plain else ck.with_chunked_fill_forward
                    base = ff(base, srccol, outcol)
                else:  # moving_avg
                    ma = ck.with_moving_avg if plain else ck.with_chunked_moving_avg
                    base = ma(base, srccol, outcol, dur)
                ctx.window_requests[c] = outcol
                i += 1
        return base

    # --- aggregate SELECT --------------------------------------------------
    def _translate_aggregate(self, sel: ast.Select, ctx: _Ctx, base: DataFrame) -> Translation:
        # ema (and any window call) under an aggregate — e.g.
        # avg(ema(value, 60, 0.5)) — needs its physical column materialized
        # before the groupBy, same as the non-aggregate path.
        base = self._materialize_emas(sel, ctx, base)
        base = self._materialize_windows(sel, ctx, base)
        names = self._output_names(sel)
        item_names = {canon(item.expr): name for item, name in names}

        # resolve GROUP BY alias references (optimizer.zig:570-607)
        groups: list[ast.Expr] = []
        for g in sel.group_by:
            if isinstance(g, ast.Identifier) and g.name in ctx.select_aliases:
                groups.append(ctx.select_aliases[g.name])
            else:
                groups.append(g)

        # collect distinct aggregate calls from select items + order by
        agg_calls: dict[str, ast.Call] = {}
        for e in [it.expr for it in sel.items] + [o.expr for o in sel.order_by]:
            for node in _walk(e):
                if isinstance(node, ast.Call) and node.func in AGGREGATES:
                    agg_calls.setdefault(canon(node), node)

        # pre-pass: irate/integral/increase need per-series lag columns
        # before groupBy — each call needs exactly one predecessor, carried
        # across chunk seams when the range can exceed one chunk
        # (functions/chunked.py).
        lag_cols: dict[str, tuple[str, str, str]] = {}  # canon → (argcol, prev_arg, prev_ts)
        lag_reqs: list[ck.LagRequest] = []
        li = 0
        for c, call in agg_calls.items():
            if call.func in ("irate", "integral", "increase"):
                argcol = f"__lagarg_{li}"
                base = base.withColumn(argcol, self._row(call.args[0], ctx, base).cast("double"))
                lag_reqs.append(ck.LagRequest(argcol, f"__prev_{li}", 1, "lag"))
                if call.func in ("irate", "integral"):
                    # increase only consumes (x, prev_x) — don't carry an
                    # unused ts-lag column through the chunked window
                    lag_reqs.append(ck.LagRequest("ts", f"__prevts_{li}", 1, "lag"))
                    lag_cols[c] = (argcol, f"__prev_{li}", f"__prevts_{li}")
                else:
                    lag_cols[c] = (argcol, f"__prev_{li}", None)
                li += 1
        if lag_reqs:
            plain = one_pass_windows(ctx.time_span)
            base = (ck.with_lag_lead if plain else ck.with_chunked_lag_lead)(base, lag_reqs)

        # grouping columns
        grp_names: list[str] = []
        grp_exprs: list[Column] = []
        grp_by_canon: dict[str, str] = {}
        for gi, g in enumerate(groups):
            name = self._group_name(g, gi, item_names)
            grp_names.append(name)
            grp_exprs.append(self._row(g, ctx, base).alias(name))
            grp_by_canon[canon(g)] = name

        # aggregate expressions
        agg_exprs: list[Column] = []
        agg_by_canon: dict[str, str] = {}
        for ai, (c, call) in enumerate(agg_calls.items()):
            colname = f"__agg_{ai}"
            agg_by_canon[c] = colname
            agg_exprs.append(self._agg_column(call, ctx, base, lag_cols.get(c)).alias(colname))

        if not agg_exprs:
            # GROUP BY with no aggregates → distinct group keys
            grouped = base.select(*grp_exprs).distinct()
        else:
            grouped = base.groupBy(*grp_exprs).agg(*agg_exprs)

        ctx.post_scope = {**grp_by_canon, **agg_by_canon}

        # FILL runs on the grouped frame before the final projection
        if sel.fill is not None:
            grouped = self._apply_fill(sel, ctx, grouped, groups, grp_by_canon, agg_by_canon)

        # final projection: select items in post-agg scope
        out_cols: list[Column] = []
        for item, name in names:
            out_cols.append(self._post(item.expr, ctx, grouped).alias(name))
        projected_canons = {canon(item.expr) for item, _ in names}
        extra = [
            (gname, gcanon)
            for gcanon, gname in grp_by_canon.items()
            if gcanon not in projected_canons
        ]
        # grouping keys not projected are still addressable (e.g. ORDER BY
        # time_bucket_0) — keep them, prepended, like the reference Aggregate
        # node which always emits its groupings (plan.zig:106-187).
        final_names = [g for g, _ in extra] + [n for _, n in names]
        out = grouped.select(*[F.col(g) for g, _ in extra], *out_cols)

        name_by_canon = dict(item_names)
        for gcanon, gname in grp_by_canon.items():
            name_by_canon.setdefault(gcanon, gname)
        for acanon, acol in agg_by_canon.items():
            name_by_canon.setdefault(acanon, acol)

        out = self._order_limit(sel, ctx, out, name_by_canon)
        return Translation(df=out, columns=final_names)

    def _agg_column(
        self, call: ast.Call, ctx: _Ctx, base: DataFrame, lag: tuple[str, str, str] | None
    ) -> Column:
        f = call.func
        ts = F.col("ts")
        if f == "count":
            if not call.args:
                return F.count(F.lit(1))
            return F.count(self._row(call.args[0], ctx, base))
        x = self._row(call.args[0], ctx, base) if call.args else None
        if f == "avg":
            return F.avg(x)
        if f == "sum":
            return F.sum(x)
        if f == "min":
            return F.min(x)
        if f == "max":
            return F.max(x)
        if f == "first":
            return ts_fn.first_agg(x, ts)
        if f == "last":
            return ts_fn.last_agg(x, ts)
        if f == "percentile":
            p = float(_literal_value(call.args[1]))
            return F.percentile(x, F.lit(p))
        if f == "approx_percentile":
            # Greenwald-Khanna sketch (bounded state, map-side partials) —
            # the 100 TB path next to the exact sort-based `percentile`;
            # returns float like the exact form (percentile_approx itself
            # returns the input type)
            p = float(_literal_value(call.args[1]))
            return F.percentile_approx(x, F.lit(p)).cast("double")
        if f == "rate":
            return ts_fn.rate_agg(x, ts)
        if f == "delta":
            return ts_fn.delta_agg(x, ts)
        if f == "irate":
            argcol, prev, prevts = lag  # type: ignore[misc]
            rate = ts_fn.irate_expr(F.col(argcol), F.col(prev), ts, F.col(prevts))
            # last *defined* pair in the group: rows whose lag is null (series
            # head) or gap<=0 are skipped rather than yielding a null irate
            return F.max_by(rate, F.when(rate.isNotNull(), ts))
        if f == "integral":
            argcol, prev, prevts = lag  # type: ignore[misc]
            return F.sum(ts_fn.trapezoid_expr(F.col(argcol), F.col(prev), ts, F.col(prevts)))
        if f == "increase":
            # beyond-reference: counter-reset-aware increase (Prometheus
            # semantics) — sum of positive deltas; a drop means the counter
            # restarted, so the new reading itself is the post-reset growth
            argcol, prev, prevts = lag  # type: ignore[misc]
            return F.sum(ts_fn.increase_expr(F.col(argcol), F.col(prev)))
        raise SydraQLError(f"unhandled aggregate {f}")

    def _post(self, e: ast.Expr, ctx: _Ctx, df: DataFrame) -> Column:
        """Translate an expression in post-aggregation scope: aggregate calls
        and grouping expressions resolve to their materialized columns."""
        assert ctx.post_scope is not None
        c = canon(e)
        if c in ctx.post_scope:
            return F.col(ctx.post_scope[c])
        if isinstance(e, ast.Literal):
            return F.lit(e.value) if e.kind != "null" else F.lit(None)
        if isinstance(e, ast.Unary):
            inner = self._post(e.operand, ctx, df)
            return {ast.UnOp.NEG: -inner, ast.UnOp.NOT: ~inner, ast.UnOp.POS: inner}[e.op]
        if isinstance(e, ast.Binary):
            l, r = self._post(e.left, ctx, df), self._post(e.right, ctx, df)
            return self._combine_binary(e.op, l, r)
        if isinstance(e, ast.Call):
            if e.func in AGGREGATES:
                raise SydraQLError(f"internal: unmaterialized aggregate {c}")
            args = [self._post(a, ctx, df) for a in e.args]
            fake = ast.Call(func=e.func, args=e.args, pos=e.pos)
            # scalar-on-aggregate, e.g. round(avg(value)): re-dispatch scalars
            return self._scalar_on(fake, args, ctx)
        if isinstance(e, ast.Identifier):
            # identifier naming an output column (e.g. ORDER BY time_bucket_0)
            if e.name in df.columns:
                return F.col(e.name)
            raise ValidationError(f"unknown identifier '{e.name}' after aggregation", pos=e.pos)
        raise SydraQLError(f"cannot translate post-agg expression {e!r}")

    def _combine_binary(self, op: ast.BinOp, l: Column, r: Column) -> Column:
        mapping = {
            ast.BinOp.AND: lambda: l & r,
            ast.BinOp.OR: lambda: l | r,
            ast.BinOp.EQ: lambda: l == r,
            ast.BinOp.NEQ: lambda: l != r,
            ast.BinOp.LT: lambda: l < r,
            ast.BinOp.LTE: lambda: l <= r,
            ast.BinOp.GT: lambda: l > r,
            ast.BinOp.GTE: lambda: l >= r,
            ast.BinOp.ADD: lambda: l + r,
            ast.BinOp.SUB: lambda: l - r,
            ast.BinOp.MUL: lambda: l * r,
            ast.BinOp.DIV: lambda: F.try_divide(l.cast("double"), r),
            ast.BinOp.MOD: lambda: F.try_mod(l, r),
        }
        return mapping[op]()

    def _scalar_on(self, e: ast.Call, a: list[Column], ctx: _Ctx) -> Column:
        f = e.func
        if f == "abs":
            return F.abs(a[0]).cast("double")
        if f == "ceil":
            return F.ceil(a[0]).cast("double")
        if f == "floor":
            return F.floor(a[0]).cast("double")
        if f == "round":
            return F.round(a[0].cast("double"), 0)
        if f == "pow":
            return F.pow(a[0], a[1])
        if f == "ln":
            return F.log(a[0])
        if f == "sqrt":
            return F.sqrt(a[0])
        if f == "coalesce":
            return F.coalesce(*a)
        if f == "time_bucket":
            origin = a[2] if len(a) > 2 else 0
            return ts_fn.time_bucket(a[0], a[1], origin)
        if f == "now":
            return F.lit(ctx.now_epoch)
        raise SydraQLError(f"function '{f}' not usable on aggregated output")

    # --- FILL -------------------------------------------------------------
    def _apply_fill(
        self,
        sel: ast.Select,
        ctx: _Ctx,
        grouped: DataFrame,
        groups: list[ast.Expr],
        grp_by_canon: dict[str, str],
        agg_by_canon: dict[str, str],
    ) -> DataFrame:
        bucket_idx = None
        step = None
        for gi, g in enumerate(groups):
            if isinstance(g, ast.Call) and g.func == "time_bucket":
                bucket_idx = gi
                step = int(_literal_value(g.args[0]))
                break
        if bucket_idx is None:
            raise ValidationError("FILL requires a time_bucket(...) grouping")
        bucket_col = grp_by_canon[canon(groups[bucket_idx])]
        keys = [grp_by_canon[canon(g)] for gi, g in enumerate(groups) if gi != bucket_idx]
        value_cols = list(agg_by_canon.values())
        fill = sel.fill
        assert fill is not None
        constant = None
        if fill.kind == "constant":
            constant = _literal_value(fill.constant)
        # one pass over the aggregated frame when the WHERE bounds every
        # group's spine to one chunk (one_pass_fill); otherwise the chunked
        # spine, which stays bounded for any range (functions/fill.py)
        if one_pass_fill(ctx.time_span, groups[bucket_idx]):
            fill_fn = fill_mod.fill_buckets_one_pass
        else:
            fill_fn = fill_mod.fill_buckets
        return fill_fn(
            grouped,
            bucket_col=bucket_col,
            step_s=step,
            keys=keys,
            value_cols=value_cols,
            strategy=fill.kind,
            constant=constant,
        )

    # --- ORDER BY / LIMIT ---------------------------------------------------
    def _order_limit(
        self,
        sel: ast.Select,
        ctx: _Ctx,
        out: DataFrame,
        name_by_canon: dict[str, str],
        base: DataFrame | None = None,
        names: list[tuple[ast.SelectItem, str]] | None = None,
    ) -> DataFrame:
        if sel.order_by:
            order_cols: list[Column] = []
            for o in sel.order_by:
                c = canon(o.expr)
                if c in name_by_canon and name_by_canon[c] in out.columns:
                    col = F.col(name_by_canon[c])
                elif isinstance(o.expr, ast.Identifier) and o.expr.name in out.columns:
                    col = F.col(o.expr.name)
                elif ctx.post_scope is not None:
                    col = self._post(o.expr, ctx, out)
                else:
                    # non-agg: recompute ordering expression over output cols
                    # by re-projecting from base is not possible post-select;
                    # fall back to output-column expressions only.
                    col = self._row_on_output(o.expr, ctx, out, name_by_canon)
                # reference sort: NULLS FIRST asc / NULLS LAST desc — matches
                # Spark defaults (operator.zig:676-740, SURVEY §2.6).
                order_cols.append(col.desc() if o.descending else col.asc())
            out = out.orderBy(*order_cols)
        if sel.offset:
            out = out.offset(sel.offset)
        if sel.limit is not None:
            out = out.limit(sel.limit)
        return out

    def _row_on_output(
        self, e: ast.Expr, ctx: _Ctx, out: DataFrame, name_by_canon: dict[str, str]
    ) -> Column:
        """Translate an ORDER BY expression against the projected output."""
        c = canon(e)
        if c in name_by_canon and name_by_canon[c] in out.columns:
            return F.col(name_by_canon[c])
        if isinstance(e, ast.Literal):
            return F.lit(e.value) if e.kind != "null" else F.lit(None)
        if isinstance(e, ast.Identifier):
            if e.name in out.columns:
                return F.col(e.name)
            mapped = e.name.replace("tag.", "tag_")
            if mapped in out.columns:
                return F.col(mapped)
            raise ValidationError(f"ORDER BY identifier '{e.name}' not in output", pos=e.pos)
        if isinstance(e, ast.Unary):
            inner = self._row_on_output(e.operand, ctx, out, name_by_canon)
            return {ast.UnOp.NEG: -inner, ast.UnOp.NOT: ~inner, ast.UnOp.POS: inner}[e.op]
        if isinstance(e, ast.Binary):
            l = self._row_on_output(e.left, ctx, out, name_by_canon)
            r = self._row_on_output(e.right, ctx, out, name_by_canon)
            return self._combine_binary(e.op, l, r)
        raise ValidationError("unsupported ORDER BY expression")

    # --- OneRow -------------------------------------------------------------
    def _translate_onerow(self, sel: ast.Select, ctx: _Ctx) -> Translation:
        """SELECT <literals> with no FROM → single row
        (reference createOneRowOperator, operator.zig:284-298)."""
        names = self._output_names(sel)
        one = self.spark.range(1)
        cols = [self._row(item.expr, ctx, one).alias(name) for item, name in names]
        df = one.select(*cols)
        if sel.limit is not None:
            df = df.offset(sel.offset or 0).limit(sel.limit)
        return Translation(df=df, columns=[n for _, n in names])
