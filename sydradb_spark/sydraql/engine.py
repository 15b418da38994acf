"""SydraQLEngine — the exec pipeline (reference src/sydra/query/exec.zig:14-61).

parse → validate → translate-to-DataFrame; Catalyst replaces the reference's
optimize/physical/Volcano stages. Per-stage µs timings are collected like the
reference's stats block (http.zig:270-295).
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sydradb_spark.errors import TimeRangeRequired, UnsupportedStatement, ValidationError
from sydradb_spark.sydraql import ast
from sydradb_spark.sydraql.parser import parse
from sydradb_spark.sydraql.translator import (
    Translator,
    _Ctx,
    _literal_value,
    time_bounds_from_where,
)
from sydradb_spark.sydraql.validator import _has_time_predicate, validate


@dataclass
class QueryResult:
    df: DataFrame
    columns: list[str]
    stats: dict = field(default_factory=dict)


class SydraQLEngine:
    """Query engine over the canonical points table (model.POINTS_SCHEMA).

    Two modes:
    - in-memory: pass ``points`` (tests, ad-hoc frames). INSERT/DELETE mutate
      the lineage — fine for a handful of statements, not durable.
    - storage-backed: pass ``storage_path`` (hour-partitioned Parquet via
      sydradb_spark.storage). INSERT appends partitions, DELETE rewrites only
      the affected hour partitions, and both survive a session restart; the
      frame is re-read after each write so lineage never grows.

    ``query()`` returns a lazy DataFrame — callers collect/stream it."""

    def __init__(
        self,
        spark: SparkSession,
        points: DataFrame | None = None,
        storage_path: str | None = None,
        rollup: DataFrame | None = None,
        rollup_step: int = 3600,
        store=None,
    ):
        """``store=`` (r14): an ``objectstore.ObjectStore`` scoped to the
        table at ``storage_path`` — the engine's reads, INSERT appends and
        DELETE rewrites then run the objectstore manifest protocol, so the
        full query surface works on store-backed (object-store) tables,
        not just POSIX ones."""
        from sydradb_spark import storage as storage_mod

        self.spark = spark
        self.storage_path = storage_path
        self.store = store
        self._storage = storage_mod
        # the manifest version self.points serves; None = in-memory points,
        # a pre-manifest table or a URI table read without its store
        self.version: int | None = None
        self._refresh_lock = threading.Lock()
        if points is not None:
            self.points = points
        elif storage_path is None:
            raise ValueError("need points or storage_path")
        else:
            self._refresh()
        # materialized rollup (rollup.build_rollup at rollup_step): eligible
        # bucketed aggregates are served from it (translator._try_rollup).
        # Lazy localCheckpoint = build-once-serve-many: the rollup plan
        # (a full groupBy over raw points) executes on the FIRST served
        # query and every later query reads the materialized partitions —
        # without it each query re-aggregated the raw table (measured: the
        # rebuild dominated rollup_served_engine_query's warm cost). Not an
        # explicit persist(): checkpoint partitions are reclaimed by the
        # ContextCleaner when the engine is dropped, so short-lived engines
        # don't leak session-lifetime cache entries. Any INSERT/DELETE
        # invalidates it (set to None) — serving stale aggregates after a
        # write would be silently wrong.
        self.rollup = (
            rollup.localCheckpoint(eager=False) if rollup is not None else None
        )
        self.rollup_step = rollup_step
        # in-memory writes grow the plan (union/filter per statement);
        # checkpoint every K mutations so lineage depth stays bounded
        self._mutations = 0
        self._checkpoint_every = 16

    def _refresh(self) -> None:
        """Open the stored table, and re-open it after this engine committed
        a write. Two concurrent HTTP ingests can finish write → read → assign
        interleaved, and the slower re-read may hold the OLDER version:
        assigning it would hide the other request's acknowledged points
        from this engine. Refreshes run one at a time and only ever move
        ``self.points`` to a newer manifest version — a version that is
        not newer already holds this engine's commit."""
        with self._refresh_lock:
            latest = self._storage.table_version(self.storage_path, store=self.store)
            if latest is not None and self.version is not None and latest <= self.version:
                return
            self.points = self._storage.read_points(
                self.spark, self.storage_path, store=self.store, version=latest
            )
            self.version = latest

    def _after_mutation(self) -> None:
        self.rollup = None
        if self.storage_path is None:
            self._mutations += 1
            if self._mutations % self._checkpoint_every == 0:
                self.points = self.points.localCheckpoint(eager=True)

    def query(self, text: str) -> QueryResult:
        from sydradb_spark import metrics

        t0 = time.perf_counter()
        try:
            stmt = parse(text)
            t1 = time.perf_counter()
            validate(stmt)
        except Exception:
            metrics.inc("sydra_query_errors_total")
            raise
        metrics.inc("sydra_queries_total")
        t2 = time.perf_counter()

        if isinstance(stmt, ast.Explain):
            # EXPLAIN must PLAN, never execute (r14 front-end review: the
            # old path ran _run(inner), so `explain insert ...` durably
            # ingested and `explain delete ...` durably deleted). SELECTs
            # are safe — their translation is lazy; mutations get a plan
            # summary built without touching the table.
            if isinstance(stmt.inner, ast.Select):
                inner = self._run(stmt.inner)
                plan = inner.df._jdf.queryExecution().explainString(
                    self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
                lines = plan.split("\n")
            else:
                lines = self._explain_mutation(stmt.inner)
            df = self.spark.createDataFrame([(line,) for line in lines], "plan: string")
            return QueryResult(df=df, columns=["plan"])

        result = self._run(stmt)
        t3 = time.perf_counter()
        result.stats = {
            "parse_us": int((t1 - t0) * 1e6),
            "validate_us": int((t2 - t1) * 1e6),
            "plan_us": int((t3 - t2) * 1e6),
        }
        return result

    def _explain_mutation(self, stmt: ast.Statement) -> list[str]:
        """Human-readable plan for INSERT/DELETE without executing it."""
        durable = (
            f"durable (storage at {self.storage_path})"
            if self.storage_path is not None
            else "in-memory (lineage union/filter)"
        )
        if isinstance(stmt, ast.Insert):
            return [
                f"Insert into '{stmt.target}' [{durable}]",
                f"  rows: {len(stmt.rows)}",
                "  path: hour-partitioned parquet append"
                if self.storage_path is not None
                else "  path: unionByName onto the points frame",
            ]
        if isinstance(stmt, ast.Delete):
            mn, mx = time_bounds_from_where(stmt.where)
            target = (
                f"by_id({stmt.target.series_id})"
                if stmt.target.kind == "by_id"
                else stmt.target.name
            )
            return [
                f"Delete from '{target}' [{durable}]",
                f"  time bounds: [{mn}, {mx}]",
                "  path: partition-scoped anti-filter rewrite "
                "(only overlapping hour partitions touched)"
                if self.storage_path is not None
                else "  path: null-safe anti-filter on the points frame",
            ]
        raise UnsupportedStatement(f"cannot explain {type(stmt).__name__}")

    def _run(self, stmt: ast.Statement) -> QueryResult:
        if isinstance(stmt, ast.Select):
            tr = Translator(
                self.points, self.spark, rollup=self.rollup, rollup_step=self.rollup_step
            ).translate(stmt)
            return QueryResult(df=tr.df, columns=tr.columns)
        if isinstance(stmt, ast.Insert):
            return self._insert(stmt)
        if isinstance(stmt, ast.Delete):
            return self._delete(stmt)
        raise UnsupportedStatement(f"cannot execute {type(stmt).__name__}")

    def ingest_points(self, new) -> None:
        """Append canonical (series, tags, ts, value) rows — the shared sink
        behind sydraQL INSERT and the HTTP ingest route (reference
        http.zig:657-712). Storage-backed: a durable partitioned append;
        in-memory: a union with the events-adapter pushdown hints kept
        consistent (a null hint would make the translator's redundant scan
        bounds drop the new rows)."""
        from sydradb_spark.model import with_identity

        new = with_identity(new)
        if self.storage_path is not None:
            self._storage.write_points(
                new, self.storage_path, mode="append", store=self.store
            )
            self._refresh()
        else:
            if "__ns" in self.points.columns:
                new = new.withColumn(
                    "__ns", (F.col("ts") * F.lit(1_000_000_000)).cast("long")
                )
            if "__tsr" in self.points.columns:
                tsr_type = dict(self.points.dtypes)["__tsr"]
                new = new.withColumn(
                    "__tsr", F.timestamp_seconds(F.col("ts")).cast(tsr_type)
                )
            if "__ssrc" in self.points.columns:
                # invariant: __ssrc == series after the first '.' (identity
                # when the series has no dot)
                new = new.withColumn(
                    "__ssrc", F.regexp_replace(F.col("series"), r"^[^.]*\.", "")
                )
            self.points = self.points.unionByName(new, allowMissingColumns=True)
        self._after_mutation()

    # --- INSERT ------------------------------------------------------------
    # The reference parses INSERT but its plan builder rejects it
    # (plan.zig:99-104). We implement it. Storage-backed: a partitioned
    # Parquet append (durable, lineage-free); in-memory: a union.
    def _insert(self, stmt: ast.Insert) -> QueryResult:
        cols = [c.lower() for c in (stmt.columns or ["ts", "value"])]
        if set(cols) - {"ts", "time", "value"}:
            raise ValidationError(f"INSERT columns must be ts/time/value, got {cols}")
        rows = []
        for tup in stmt.rows:
            # arity against the EFFECTIVE column list (r14 front-end
            # review): the validator checks only explicit column lists, so
            # `VALUES (1, 2.0, 999)` with default (ts, value) columns
            # silently dropped the trailing value via zip truncation
            if len(tup) != len(cols):
                raise ValidationError(
                    f"VALUES tuple has {len(tup)} value(s), expected "
                    f"{len(cols)} for columns {cols}"
                )
            vals = {}
            for c, e in zip(cols, tup):
                vals["ts" if c in ("ts", "time") else "value"] = _literal_value(e)
            if vals.get("ts") is None or vals.get("value") is None:
                # the point model stores (i64, f64) — reference types.zig:5-8;
                # null-valued points only enter via ingest sources
                raise ValidationError("INSERT requires non-null time and value")
            rows.append((stmt.target, {}, int(vals["ts"]), float(vals["value"])))
        from sydradb_spark.model import driver_batch

        self.ingest_points(driver_batch(self.spark, rows))
        count = len(rows)
        from sydradb_spark import metrics

        metrics.inc("sydra_inserts_total")
        metrics.inc("sydra_points_ingested_total", count)
        df = self.spark.createDataFrame([(count,)], "inserted: long")
        return QueryResult(df=df, columns=["inserted"])

    # --- DELETE -------------------------------------------------------------
    # Reference: parsed, time predicate required, never executed
    # (parser.zig:201-217, validator.zig:96-105). Spark-first: anti-filter.
    def _delete(self, stmt: ast.Delete) -> QueryResult:
        if not _has_time_predicate(stmt.where):
            raise TimeRangeRequired("DELETE requires a time predicate in WHERE")
        tr = Translator(self.points, self.spark)
        scoped = tr._resolve_selector(stmt.target)
        ctx_pred = tr._row(stmt.where, _Ctx(), scoped)
        if stmt.target.kind == "by_id":
            sel_pred = F.col("series_id") == F.lit(stmt.target.series_id)
        else:
            sel_pred = F.col("series") == F.lit(stmt.target.name)
        pred = sel_pred & ctx_pred
        if self.storage_path is not None:
            # durable: rewrite only the hour partitions the time predicate
            # touches, then re-read (lineage-free)
            mn, mx = time_bounds_from_where(stmt.where)
            self._storage.delete_where(
                self.spark, self.storage_path, pred, ts_min=mn, ts_max=mx,
                store=self.store,
            )
            self._refresh()
        else:
            # Null-safe negation: where the predicate evaluates to NULL (e.g.
            # tag.host = 'x' on rows missing that tag), ~NULL is NULL and a
            # bare filter would silently drop non-matching rows. Only rows
            # where the predicate is TRUE are deleted.
            self.points = self.points.filter(~F.coalesce(pred, F.lit(False)))
        self._after_mutation()
        from sydradb_spark import metrics

        metrics.inc("sydra_deletes_total")
        df = self.spark.createDataFrame([(1,)], "deleted: long")
        return QueryResult(df=df, columns=["deleted"])
