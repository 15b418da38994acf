"""The traced run: which calls get a span, and the per-layer metrics the
spans give.

Every wrapper patches the name its caller looks up at call time:

- ``server._Handler.do_GET`` / ``do_POST`` (found by the request loop on the
  handler class): the request root. It reads the client's request id from
  the ``X-Perfbench-Request`` header, runs the request under a Spark job
  group named after it and records the group's job and task counts.
- ``SydraQLEngine.query`` / ``ingest_points`` and
  ``SydraHttpServer.series_id_for``: class attributes, found through the
  instance.
- ``sydraql.engine.parse`` / ``validate``: bound into the engine module at
  import, so the engine module's globals are patched, not the parser's.
  ``Translator.translate`` is a class attribute of the class the engine
  module bound.
- ``api.to_response``, ``tagindex.find_series``, ``functions.timeseries.lttb``:
  imported inside the server's handlers at call time, so the module
  attribute is patched.
- ``storage.write_points`` / ``read_points`` and ``manifest.commit``: called
  as module attributes (``self._storage.write_points``, ``mf.commit``); the
  bulk load reaches ``write_points`` through the name ``ingest`` bound at
  import, patched too.
- the concrete DataFrame class's ``collect`` / ``count``: the Spark actions.

The pipeline pass (``pipeline.py``) is called from the benchmark itself, so
it records its spans directly, one per entry, under the job group
``pipeline``.
"""

from __future__ import annotations

from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

from perfbench import stats
from perfbench.gen import QUERY_CLASSES
from perfbench.pipeline import DOCS, ENTRIES
from perfbench.trace import Tracer, self_time

REQUEST_HEADER = "X-Perfbench-Request"


@dataclass
class Sample:
    """One client-side request: its id, query class (``ingest`` for ingest
    batches), latency in seconds and whether it succeeded. sydraql
    responses also give the scan leaves' output rows and the rows
    returned, from the response's ``stats.operators``."""

    rid: str
    cls: str
    latency: float
    ok: bool
    scanned: int | None = None
    returned: int | None = None


class Instrumentation:
    """The traced run's tracer, its wrappers and the per-request Spark job
    counts. ``install`` needs the running SparkSession."""

    def __init__(self) -> None:
        self.spark = None
        self.tracer = Tracer()
        self.jobs: dict[str, tuple[int, int]] = {}  # rid -> (jobs, tasks)

    @contextmanager
    def job_group(self, rid: str):
        """Run the block's Spark jobs under job group ``rid`` and record the
        group's job and task counts."""
        sc = self.spark.sparkContext
        sc.setJobGroup(rid, "perfbench", False)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.jobs[rid] = self._job_counts(rid)

    @contextmanager
    def _request(self, handler, *args, **kwargs):
        rid = handler.headers.get(REQUEST_HEADER)
        with self.job_group(rid) if rid else nullcontext():
            with self.tracer.span("server.request", rid=rid):
                yield

    def _job_counts(self, rid: str) -> tuple[int, int]:
        tracker = self.spark.sparkContext.statusTracker()
        job_ids = tracker.getJobIdsForGroup(rid)
        tasks = 0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = tracker.getStageInfo(s)
                tasks += stage.numTasks if stage else 0
        return len(job_ids), tasks

    def install(self, spark) -> None:
        self.spark = spark
        from sydradb_spark import api, manifest, server, storage, tagindex
        from sydradb_spark import ingest as ingest_mod
        from sydradb_spark.functions import timeseries
        from sydradb_spark.sydraql import engine as engine_mod

        t = self.tracer
        for verb in ("do_GET", "do_POST"):
            t.wrap(server._Handler, verb, "server.request", around=self._request)
        t.wrap(engine_mod.SydraQLEngine, "query", "engine.query")
        t.wrap(engine_mod.SydraQLEngine, "ingest_points", "engine.ingest_points")
        t.wrap(engine_mod, "parse", "sydraql.parse")
        t.wrap(engine_mod, "validate", "sydraql.validate")
        t.wrap(engine_mod.Translator, "translate", "sydraql.translate")
        t.wrap(api, "to_response", "api.to_response")
        t.wrap(tagindex, "find_series", "tagindex.find_series")
        t.wrap(timeseries, "lttb", "functions.lttb")
        t.wrap(server.SydraHttpServer, "series_id_for", "server.series_id_for")
        t.wrap(storage, "write_points", "storage.write_points")
        t.wrap(ingest_mod, "write_points", "storage.write_points")
        t.wrap(storage, "read_points", "storage.read_points")
        t.wrap(manifest, "commit", "manifest.commit")
        df_cls = type(self.spark.range(1))
        t.wrap(df_cls, "collect", "exec.collect")
        t.wrap(df_cls, "count", "exec.count")

    def uninstall(self) -> None:
        self.tracer.uninstall()

    def metrics(self, samples: list[Sample], storage_counts: dict[str, float]) -> dict:
        """Per-layer metrics; raises if a span-derived one saw no spans."""
        return layer_metrics(self.tracer, self.jobs, samples, storage_counts)


def by_class(samples: list[Sample]) -> dict[str, list[float]]:
    """Latencies grouped by query class."""
    out: dict[str, list[float]] = {}
    for x in samples:
        out.setdefault(x.cls, []).append(x.latency)
    return out


def _nonempty(name: str, values: list) -> list:
    if not values:
        raise RuntimeError(f"per-layer metric {name} recorded no spans")
    return values


def layer_metrics(
    tracer: Tracer,
    jobs: dict[str, tuple[int, int]],
    samples: list[Sample],
    storage_counts: dict[str, float],
) -> dict[str, float]:
    spans = tracer.spans
    kids = tracer.children()
    roots = {s.rid: i for i, s in enumerate(spans) if s.name == "server.request" and s.rid}

    def under(i: int, name: str | None = None) -> list[int]:
        return [k for k in kids.get(i, []) if name is None or spans[k].name == name]

    def p50(name: str, values: list[float], scale: float) -> float:
        return stats.median(_nonempty(name, values)) * scale

    ok = [x for x in samples if x.ok and x.rid in roots]
    queries = [x for x in ok if x.cls != "ingest"]
    ingests = [x for x in ok if x.cls == "ingest"]
    sydraql = [x for x in queries if x.returned is not None]
    query_roots = [roots[x.rid] for x in queries]
    ingest_roots = [roots[x.rid] for x in ingests]
    engine_q = [k for r in query_roots for k in under(r, "engine.query")]
    to_resp = [k for r in query_roots for k in under(r, "api.to_response")]
    ingest_spans = {
        name: [spans[k] for r in ingest_roots for k in _descendants(kids, r)
               if spans[k].name == name]
        for name in ("engine.ingest_points", "storage.write_points",
                     "storage.read_points", "manifest.commit")
    }

    def direct_cost(x: Sample) -> float:
        return sum(spans[k].duration for k in under(roots[x.rid]))

    def translate_s(x: Sample) -> float:
        return sum(
            spans[t].duration
            for q in under(roots[x.rid], "engine.query")
            for t in under(q, "sydraql.translate")
        )

    out: dict[str, float] = {}
    out["session.spark_start_s"] = _nonempty(
        "session.spark_start_s", tracer.by_name("session.spark_start"))[0].duration
    out["engine.open_s"] = p50(
        "engine.open_s", [s.duration for s in tracer.by_name("engine.open")], 1.0)
    out["storage.bulk_load_s"] = _nonempty(
        "storage.bulk_load_s", tracer.by_name("storage.bulk_load"))[0].duration
    out["server.query_self_ms"] = p50(
        "server.query_self_ms", [x.latency - direct_cost(x) for x in queries], 1e3)
    out["server.ingest_self_ms"] = p50(
        "server.ingest_self_ms",
        [x.latency - direct_cost(x) for x in ingests
         if under(roots[x.rid], "engine.ingest_points")], 1e3)
    out["sydraql.parse_us"] = p50(
        "sydraql.parse_us",
        [spans[k].duration for q in engine_q for k in under(q, "sydraql.parse")], 1e6)
    out["sydraql.validate_us"] = p50(
        "sydraql.validate_us",
        [spans[k].duration for q in engine_q for k in under(q, "sydraql.validate")], 1e6)
    with_translate = [x for x in sydraql if translate_s(x) > 0]
    out["sydraql.translate_ms"] = p50(
        "sydraql.translate_ms", [translate_s(x) for x in with_translate], 1e3)
    out["sydraql.translate_share"] = p50(
        "sydraql.translate_share",
        [translate_s(x) / x.latency for x in with_translate], 1.0)
    out["api.shape_ms"] = p50(
        "api.shape_ms", [self_time(spans, k, kids) for k in to_resp], 1e3)
    out["exec.collect_ms"] = p50(
        "exec.collect_ms",
        [sum(spans[c].duration for c in under(k, "exec.collect")) for k in to_resp
         if under(k, "exec.collect")], 1e3)
    counted = _nonempty("exec.spark_jobs_per_query", [jobs[x.rid] for x in queries if x.rid in jobs])
    out["exec.spark_jobs_per_query"] = sum(j for j, _ in counted) / len(counted)
    out["exec.spark_tasks_per_query"] = sum(t for _, t in counted) / len(counted)
    base = [x for x in sydraql if x.returned and x.scanned is not None]
    _nonempty("exec.rows_scanned_per_row_returned", base)
    out["exec.rows_scanned_per_row_returned"] = (
        sum(x.scanned for x in base) / sum(x.returned for x in base)
    )
    for cls in QUERY_CLASSES:
        name = f"query.{cls}_p50_ms"
        out[name] = p50(name, [x.latency for x in queries if x.cls == cls], 1e3)
    find_costs = []
    for x in queries:
        if x.cls != "find":
            continue
        r = roots[x.rid]
        found = under(r, "tagindex.find_series")
        if found:
            find_costs.append(
                sum(spans[k].duration for k in found + under(r, "exec.collect")))
    out["tagindex.find_series_ms"] = p50("tagindex.find_series_ms", find_costs, 1e3)
    for metric, name in (
        ("engine.ingest_points_ms", "engine.ingest_points"),
        ("storage.write_points_ms", "storage.write_points"),
        ("storage.read_points_ms", "storage.read_points"),
        ("manifest.commit_ms", "manifest.commit"),
    ):
        out[metric] = p50(metric, [s.duration for s in ingest_spans[name]], 1e3)
    out.update(storage_counts)
    # the end-to-end query_class_p50_ms of this traced run: its excess over
    # the untraced runs' query_class_p50_ms is the tracing overhead
    out["trace.query_class_p50_ms"] = stats.mean_class_median(by_class(queries)) * 1e3
    n_query_spans = sum(len(_descendants(kids, r)) + 1 for r in query_roots)
    out["trace.spans_per_query"] = n_query_spans / len(queries)
    pass_s = 0.0
    for entry in ENTRIES:
        name = f"pipeline.{entry}_s"
        out[name] = _nonempty(name, tracer.by_name(f"pipeline.{entry}"))[0].duration
        pass_s += out[name]
    if "pipeline" not in jobs:
        raise RuntimeError("per-layer metric pipeline.spark_tasks recorded no jobs")
    out["pipeline.spark_tasks"] = float(jobs["pipeline"][1])
    out["pipeline.docs_per_s"] = DOCS / pass_s
    return out


def _descendants(kids: dict[int, list[int]], root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out
