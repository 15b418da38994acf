"""Repository benchmark: sydraQL read serving over loopback HTTP, and HTTP
ingest beside reads.

Run from the repository root::

    python3 perfbench/run.py --workload read_serve --seed 1 --seconds 12 --trace 0

The run starts a SparkSession on ``local[4]``, bulk-loads a seeded points
table with ``ingest.ingest_batch``, opens a storage-backed ``SydraQLEngine``
and serves it through an in-process ``SydraHttpServer`` on loopback, as
``python -m sydradb_spark serve`` wires them. One request per query class
and, beside them, one ingest batch warm the engine up. Then:

- ``read_serve``: for ``--seconds``, 2 closed-loop query clients, each on
  one keep-alive connection, send the seeded query mix to the bulk-loaded
  table. Afterwards, with no readers, 1 ingest client posts the seeded
  NDJSON batches to ``POST /api/v1/ingest``.
- ``mixed_ingest``: the same ingest client posts the same batches while 2
  query clients send the mix until the last batch is acknowledged; the
  batch count, not ``--seconds``, sets the length, so the storage counts
  repeat exactly.

Every acknowledged batch is one committed manifest version; nothing runs
``optimize``, ``vacuum`` or retention. Correctness is checked untimed
afterwards (see ``oracle.py``). With ``--trace 1`` the run also times the
pipeline entries (see ``pipeline.py``). The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer
ones (see ``layers.py``) with ``--trace 1``, each with the unit declared
there. The line before it carries diagnostics: sample counts, latencies,
failures, CPU calibration and steal.

All working data lives in ``.perfbench_work/`` under the repository root
and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import gen, pipeline, stats  # noqa: E402
from perfbench.layers import REQUEST_HEADER, Instrumentation, Sample, by_class  # noqa: E402

WORKLOADS = ("read_serve", "mixed_ingest")
SPARK_CPUS = 4
DRIVER_MEM = "1g"  # pinned so the heap does not follow the host's free memory
QUERY_CLIENTS = 2  # closed-loop query clients, both workloads
# measured ingest batches, after one warm-up batch: read_serve posts its
# batches after the queries, mixed_ingest beside them (more batches there,
# so the concurrent phase holds enough queries)
INGEST_BATCHES = {"read_serve": 8, "mixed_ingest": 7}
ENGINE_OPENS = 3  # set-up repeats the engine open and reports the median
QUERY_STREAM = 4_000  # generated requests; a run sends a prefix of them
MAX_ROWS = 10_000  # the serve default
REQUEST_TIMEOUT_S = 120.0
WORK_DIR = ".perfbench_work"


def declared_units(trace: bool) -> dict[str, str]:
    """Name -> unit of the metrics a run reports, from ``BENCHMARK.json``."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _configure_env(work: Path) -> None:
    """Pin the engine's knobs and keep every temporary file under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_CPUS)
    os.environ["SPARK_MASTER"] = f"local[{SPARK_CPUS}]"
    os.environ["SYDRA_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for knob in ("SYDRA_SHUFFLE_PARTITIONS", "SYDRA_DRIVER_JVM_OPTS", "SYDRA_MAX_RESULT"):
        os.environ.pop(knob, None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


class Client:
    """One keep-alive HTTP connection; reconnects after the server closes."""

    def __init__(self, addr: tuple[str, int]):
        self.addr = addr
        self.conn: http.client.HTTPConnection | None = None

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()
            self.conn = None

    def send(self, method: str, path: str, body: bytes | None, rid: str):
        """(status, payload, seconds, error); status is None on error."""
        headers = {"Content-Type": "application/json", REQUEST_HEADER: rid}
        t0 = time.perf_counter()
        try:
            if self.conn is None:
                self.conn = http.client.HTTPConnection(*self.addr, timeout=REQUEST_TIMEOUT_S)
            self.conn.request(method, path, body=body, headers=headers)
            resp = self.conn.getresponse()
            data = resp.read()
            if resp.will_close:
                self.close()
            return resp.status, data, time.perf_counter() - t0, None
        except (OSError, http.client.HTTPException) as exc:
            self.close()
            return None, None, time.perf_counter() - t0, f"{type(exc).__name__}: {exc}"


def _shape_problem(req: gen.Request, body) -> str | None:
    """Cheap check on every timed response: the right shape, not empty
    (every generated window holds data)."""
    if req.method == "POST" and req.path == "/api/v1/sydraql":
        rows = body.get("rows") if isinstance(body, dict) else None
        return None if rows else "no rows"
    return None if isinstance(body, list) and body else "empty answer"


def _scan_rows(body: dict) -> int | None:
    ops = body.get("stats", {}).get("operators")
    if not ops:
        return None
    return sum(op.get("rows_out") or 0 for op in ops if op.get("name", "").startswith("Scan"))


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: Path):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.table = str(work / "table")
        self.inst = Instrumentation() if trace else None
        self.failures = stats.Failures()
        self._lock = threading.Lock()
        self.spark = None
        self.server = None

    def _span(self, name: str):
        return self.inst.tracer.span(name) if self.inst else nullcontext()

    # --- requests ---------------------------------------------------------
    def _record(self, what: str, status, error, mismatch=None) -> bool:
        with self._lock:
            return self.failures.record(what, status=status, error=error, mismatch=mismatch)

    def query(self, client: Client, req: gen.Request, rid: str) -> Sample:
        status, data, dt, err = client.send(req.method, req.path, req.body, rid)
        body, problem = None, None
        if err is None and status == 200:
            try:
                body = json.loads(data)
                problem = _shape_problem(req, body)
            except ValueError as exc:
                problem = f"unparsable response: {exc}"
        ok = self._record(f"{req.cls} {rid}", status, err, problem)
        sample = Sample(rid, req.cls, dt, ok)
        if ok and isinstance(body, dict):
            sample.scanned = _scan_rows(body)
            sample.returned = body.get("stats", {}).get("rows_returned")
        return sample

    def ingest(self, client: Client, batch: list[gen.Point], rid: str) -> Sample:
        status, data, dt, err = client.send("POST", "/api/v1/ingest", gen.batch_body(batch), rid)
        problem = None
        if err is None and status == 200:
            try:
                got = json.loads(data).get("ingested")
            except (ValueError, AttributeError) as exc:
                got = f"unparsable response: {exc}"
            if got != len(batch):
                problem = f"ingested {got!r} of {len(batch)} points"
        return Sample(rid, "ingest", dt, self._record(f"ingest {rid}", status, err, problem))

    def query_loop(self, k: int, n: int, queries: list[gen.Request], stop) -> list[Sample]:
        """Client ``k`` of ``n``: every n-th request of the stream, closed
        loop, until ``stop()``."""
        client = Client(self.server.addr)
        out: list[Sample] = []
        try:
            for i, req in enumerate(queries[k::n]):
                if stop():
                    return out
                out.append(self.query(client, req, f"q{k}-{i}"))
            raise RuntimeError("query stream exhausted; raise QUERY_STREAM")
        finally:
            client.close()

    # --- phases -----------------------------------------------------------
    def start(self, inputs: gen.Inputs) -> dict:
        """Set-up: Spark, bulk load, engine opens, server."""
        ndjson = self.work / "bulk.ndjson"
        ndjson.write_text(inputs.bulk_ndjson())
        t0 = time.perf_counter()
        with self._span("session.spark_start"):
            from sydradb_spark.session import get_spark

            self.spark = get_spark("perfbench")
            self.spark.range(1).count()
        spark_s = time.perf_counter() - t0
        if self.inst:
            self.inst.install(self.spark)

        from sydradb_spark import ingest
        from sydradb_spark.server import SydraHttpServer
        from sydradb_spark.sydraql.engine import SydraQLEngine

        t0 = time.perf_counter()
        with self._span("storage.bulk_load"):
            ingest.ingest_batch(self.spark, str(ndjson), self.table)
        bulk_s = time.perf_counter() - t0

        opens = []
        for _ in range(ENGINE_OPENS):
            t0 = time.perf_counter()
            with self._span("engine.open"):
                engine = SydraQLEngine(self.spark, storage_path=self.table)
            opens.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        self.server = SydraHttpServer(engine, host="127.0.0.1", port=0, max_rows=MAX_ROWS).start()
        client = Client(self.server.addr)
        status, _, _, err = client.send("GET", "/status", None, "status")
        if status != 200:
            raise RuntimeError(f"server did not come up: {status} {err}")
        serve_s = time.perf_counter() - t0
        client.close()
        return {"spark_s": spark_s, "bulk_s": bulk_s, "open_s": stats.median(opens),
                "serve_s": serve_s}

    def warm_up(self, inputs: gen.Inputs) -> tuple[list, Sample]:
        """Send the probe set, one request per class, and beside it the
        first ingest batch, untimed: first-use compilation is paid here, not
        by the first measured request (a cold ingest takes 2-3x a warm one).
        Returns the probe answers, checked against the oracle after the
        measured phase, and the ingest's sample. The batch lands past the
        range every query reads."""
        def ingest() -> Sample:
            client = Client(self.server.addr)
            try:
                return self.ingest(client, inputs.batches[0], "ingest-warm")
            finally:
                client.close()

        def send(i: int):
            client = Client(self.server.addr)
            try:
                r = inputs.probes[i]
                return client.send(r.method, r.path, r.body, f"p{i}")
            finally:
                client.close()

        # one client per request: the cold paths compile side by side
        with ThreadPoolExecutor(len(inputs.probes) + 1) as pool:
            warm = pool.submit(ingest)
            answers = list(pool.map(send, range(len(inputs.probes))))
            return answers, warm.result()

    def ingest_loop(self, batches: list[list[gen.Point]]) -> tuple[list[Sample], float]:
        """The closed-loop ingest client: (one sample per batch, wall time)."""
        client = Client(self.server.addr)
        t0 = time.perf_counter()
        try:
            samples = [self.ingest(client, b, f"ingest-{i}") for i, b in enumerate(batches)]
        finally:
            client.close()
        return samples, time.perf_counter() - t0

    def measure(self, inputs: gen.Inputs) -> dict:
        n = QUERY_CLIENTS
        done = threading.Event()
        t0 = time.perf_counter()
        if self.workload == "read_serve":
            deadline = t0 + self.seconds
            stop = lambda: time.perf_counter() >= deadline  # noqa: E731
        else:
            stop = done.is_set
        with ThreadPoolExecutor(n) as pool:
            futures = [pool.submit(self.query_loop, k, n, inputs.queries, stop) for k in range(n)]
            try:
                if self.workload == "mixed_ingest":
                    ingests, ingest_s = self.ingest_loop(inputs.batches[1:])
            finally:
                done.set()
            queries = [x for f in futures for x in f.result()]
        wall_s = time.perf_counter() - t0
        if self.workload == "read_serve":
            # after the queries, which warm the scan paths an ingest's
            # re-open shares: before them, ingests ran 10-20% slower and
            # still sped up batch by batch
            ingests, ingest_s = self.ingest_loop(inputs.batches[1:])
        return {"queries": queries, "wall_s": wall_s, "ingests": ingests, "ingest_s": ingest_s}

    def storage_counts(self) -> tuple[int, dict[str, float]]:
        """(bytes of the manifest-referenced data files, per-layer counts)."""
        from sydradb_spark import manifest as mf

        files = mf.read_files(self.table)
        version = mf.latest_version(self.table)
        root = Path(self.table)
        doc = root / mf.MANIFEST_DIR / f"v{version}.json"
        buckets = {f.split("/", 1)[0] for f in files}
        return sum((root / f).stat().st_size for f in files), {
            "manifest.versions": float(version),
            "manifest.doc_bytes": float(doc.stat().st_size),
            "storage.live_files": float(len(files)),
            "storage.files_per_hour_bucket": len(files) / len(buckets),
        }

    def check(self, inputs: gen.Inputs, answers: list, acked: list) -> None:
        """Probe answers against DuckDB over the bulk-loaded points (the
        table when the probes ran); for ``mixed_ingest`` also every
        ``acked`` point through a fresh engine."""
        from perfbench import oracle

        db = oracle.Oracle(inputs.bulk)
        try:
            for req, (status, data, _, err) in zip(inputs.probes, answers):
                mismatch = None
                if err is None and status == 200:
                    mismatch = oracle.check_probe(db, self.spark, req, json.loads(data))
                self._record(f"probe {req.cls}", status, err, mismatch)
        finally:
            db.close()
        if self.workload == "mixed_ingest":
            mismatch = oracle.check_acknowledged(
                self.spark, self.table, len(inputs.bulk) + len(acked), acked
            )
            self._record("acknowledged points readable once", 200, None, mismatch)

    def pipeline_pass(self) -> None:
        """The traced run's pipeline pass: check every entry, then time it."""
        data = pipeline.write_inputs(self.seed, self.work / "pipeline")
        for name, mismatch in pipeline.check(self.spark, data).items():
            self._record(f"pipeline {name}", 200, None, mismatch)
        with self.inst.job_group("pipeline"):
            pipeline.timed_pass(self.spark, data, self.inst.tracer.span)

    def calibration_s(self) -> float:
        """The CPU calibration probe of ``bench.py``, run once."""
        t0 = time.perf_counter()
        self.spark.range(0, 20_000_000, 1, 32).selectExpr(
            "sum(xxhash64(id, id * 31)) as h", "avg(sqrt(id)) as s"
        ).collect()
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.inst:
            self.inst.uninstall()
        if self.server is not None:
            self.server.stop()
        if self.spark is not None:
            _stop_spark(self.spark)

    # --- the run ------------------------------------------------------------
    def run(self) -> dict:
        t_begin = time.perf_counter()
        steal0, total0 = stats.cpu_ticks()
        inputs = gen.make_inputs(self.seed, 1 + INGEST_BATCHES[self.workload], QUERY_STREAM)
        t_gen = time.perf_counter()
        setup = self.start(inputs)
        t_start = time.perf_counter()
        answers, warm_ingest = self.warm_up(inputs)
        t_warm = time.perf_counter()
        m = self.measure(inputs)
        # before the checks, which load DuckDB and copies of the points
        peak_rss_mb = stats.peak_rss_mb()
        t_measure = time.perf_counter()

        ingests = m["ingests"]
        acked = [p for b, s in zip(inputs.batches, [warm_ingest] + ingests) if s.ok for p in b]
        table_bytes, counts = self.storage_counts()
        self.check(inputs, answers, acked)
        if self.inst:
            self.pipeline_pass()
        t_check = time.perf_counter()

        queries = [x for x in m["queries"] if x.ok]
        latencies = [x.latency for x in queries]
        classes = by_class(queries)
        tail = stats.tail(latencies)
        detail = {
            "workload": self.workload,
            "seed": self.seed,
            "query_samples": len(latencies),
            # the highest percentile with 10 samples beyond it: a run has too
            # few samples for a bounded p90, so the tail is a diagnostic
            "query_tail": {"pct": tail.pct, "ms": tail.value * 1e3, "n": tail.n},
            "query_ms": {c: [v * 1e3 for v in vals] for c, vals in sorted(classes.items())},
            "ingest_ms": [s.latency * 1e3 for s in ingests],
            "bulk_points": len(inputs.bulk),
            "stored_points": len(inputs.bulk) + len(acked),
            "table_bytes": table_bytes,
            "measured_s": m["wall_s"],
            "setup_parts_s": setup,
            "error_rate": self.failures.error_rate,
            "failures": self.failures.reasons[:20],
        }
        if self.inst is None:
            metrics = {
                "setup_s": setup["spark_s"] + setup["open_s"] + setup["serve_s"],
                "load_points_per_s": len(inputs.bulk) / setup["bulk_s"],
                "query_class_p50_ms": stats.mean_class_median(classes) * 1e3,
                "query_qps": len(latencies) / m["wall_s"],
                "ingest_p50_ms": stats.median([s.latency for s in ingests if s.ok]) * 1e3,
                "ingest_points_per_s": sum(
                    len(b) for b, s in zip(inputs.batches[1:], ingests) if s.ok) / m["ingest_s"],
                "bytes_per_point": table_bytes / (len(inputs.bulk) + len(acked)),
                "peak_rss_mb": peak_rss_mb,
            }
        else:
            metrics = self.inst.metrics(ingests + m["queries"], counts)
        # host drift diagnostics, never used to normalize a metric: the
        # calibration probe of bench.py and the share of CPU time the
        # hypervisor stole from this machine during the run
        detail["calibration_s"] = self.calibration_s()
        steal1, total1 = stats.cpu_ticks()
        detail["cpu_steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
        detail["phases_s"] = {
            "generate": t_gen - t_begin, "start": t_start - t_gen, "warm_up": t_warm - t_start,
            "measure": t_measure - t_warm, "check": t_check - t_measure,
            "report": time.perf_counter() - t_check,
        }
        return {"detail": detail, "metrics": metrics}


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    _reap_descendants()


def _reap_descendants(timeout: float = 30.0) -> None:
    import signal

    left = stats.descendants(os.getpid())
    for pid in left:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    end = time.monotonic() + timeout
    while left and time.monotonic() < end:
        time.sleep(0.1)
        left = [p for p in left if Path(f"/proc/{p}").exists()]


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "sydradb_spark").is_dir():
        print(f"no sydradb_spark package under {ROOT}; run from a repository checkout",
              file=sys.stderr)
        return 2
    work = ROOT / WORK_DIR
    shutil.rmtree(work, ignore_errors=True)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        _configure_env(work)
        out = bench.run()
    except Exception:  # noqa: BLE001 — report, print no result, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        try:
            bench.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    units = declared_units(bool(args.trace))
    if set(out["metrics"]) != set(units):
        print(f"reported metrics {sorted(out['metrics'])} differ from BENCHMARK.json's "
              f"{sorted(units)}", file=sys.stderr)
        return 1
    failures = bench.failures
    print(json.dumps(out["detail"]))
    print(json.dumps({
        "correct": failures.failed == 0,
        "attempted": failures.attempted,
        "failed": failures.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in out["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
