"""Result-sink response shaping — the reference's sydraQL JSON contract.

handleSydraql (http.zig:218-298) returns::

    {"columns": [{"name","type","nullable"}, ...],
     "rows": [[...], ...],
     "stats": {...per-stage timings, rows_returned, per-operator rows...}}

Here the per-operator stats come from Spark's executed plan metrics instead
of Volcano iterator counters.
"""

from __future__ import annotations

import time
from typing import Any

from sydradb_spark.sydraql.engine import QueryResult


# executed-plan time metrics worth surfacing as elapsed_ms, by metric key
_TIME_METRIC_KEYS = ("scan time", "time in aggregation build", "sort time", "op time")


def _plan_stats(df) -> dict[str, Any]:
    """Harvest {name, rows_out, elapsed_ms} for EVERY executed-plan node —
    the reference's per-operator stats block (operator.zig:166-184,
    wire/server.zig:320-353) — not just scan leaves. Best-effort; empty when
    the JVM internals move. Descends into AQE's final plan."""
    try:
        qe = df._jdf.queryExecution()
        nodes = []
        stack = [qe.executedPlan()]
        while stack:
            node = stack.pop()
            name = node.nodeName()
            if name == "AdaptiveSparkPlan":
                # traverse the final (post-reoptimization) physical plan
                try:
                    stack.append(node.executedPlan())
                    continue
                except Exception:  # noqa: BLE001
                    pass
            if name.endswith("QueryStage"):
                # AQE stage wrappers (Result/Shuffle/BroadcastQueryStage)
                # expose their subtree via plan(), not children()
                try:
                    stack.append(node.plan())
                    continue
                except Exception:  # noqa: BLE001
                    pass
            metrics = node.metrics()
            rows = None
            if metrics.contains("numOutputRows"):
                rows = metrics.apply("numOutputRows").value()
            elapsed_ms = None
            for key in _TIME_METRIC_KEYS:
                if metrics.contains(key):
                    elapsed_ms = metrics.apply(key).value()
                    break
            entry: dict[str, Any] = {"name": name, "rows_out": rows}
            if elapsed_ms is not None:
                entry["elapsed_ms"] = elapsed_ms
            nodes.append(entry)
            it = node.children().iterator()
            while it.hasNext():
                stack.append(it.next())
        nodes.reverse()  # leaves (scans) first, root (project/limit) last
        return {"operators": nodes}
    except Exception:  # noqa: BLE001 — stats are advisory, never fail a query
        return {}


def to_response(result: QueryResult, max_rows: int = 10_000) -> dict[str, Any]:
    """Collect a QueryResult into the reference response shape. ``max_rows``
    bounds driver memory (the reference streams; an API layer would too).
    One row past the cap is fetched so a cut is detected, not guessed: a
    result with more than ``max_rows`` rows returns the first ``max_rows``
    and ``stats["truncated"] = True``."""
    df = result.df.limit(max_rows + 1)
    t0 = time.perf_counter()
    collected = df.collect()
    exec_us = int((time.perf_counter() - t0) * 1e6)
    truncated = len(collected) > max_rows
    columns = [
        {"name": f.name, "type": f.dataType.simpleString(), "nullable": f.nullable}
        for f in df.schema.fields
    ]
    rows = [[row[c["name"]] for c in columns] for row in collected[:max_rows]]
    stats = dict(result.stats)
    stats["execute_us"] = exec_us
    stats["rows_returned"] = len(rows)
    if truncated:
        stats["truncated"] = True
    stats.update(_plan_stats(df))
    return {"columns": columns, "rows": rows, "stats": stats}
