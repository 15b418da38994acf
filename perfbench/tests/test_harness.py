"""Tests for the benchmark harness itself (no Spark needed).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path

import pytest

from perfbench import gen, oracle, pipeline, stats
from perfbench.run import ROOT, Bench, Client, declared_units
from perfbench.trace import Span, Tracer, covered, self_time


# --- generator ---------------------------------------------------------------
def _fingerprint(inputs: gen.Inputs) -> list[bytes]:
    out = [inputs.bulk_ndjson().encode()]
    out += [gen.batch_body(b) for b in inputs.batches]
    out += [
        f"{r.cls} {r.method} {r.path}".encode() + (r.body or b"")
        for r in inputs.queries + inputs.probes
    ]
    return out


def test_generator_same_seed_same_bytes():
    assert _fingerprint(gen.make_inputs(7, 3, 40)) == _fingerprint(gen.make_inputs(7, 3, 40))


def test_pipeline_inputs_same_seed_same_bytes(tmp_path: Path):
    a = pipeline.write_inputs(5, tmp_path / "a")
    b = pipeline.write_inputs(5, tmp_path / "b")
    for t in pipeline.TABLES:
        assert (a / f"{t}.parquet").read_bytes() == (b / f"{t}.parquet").read_bytes()
    assert gen.documents(5, 50) != gen.documents(6, 50)


def test_generator_seed_changes_inputs():
    a, b = gen.make_inputs(7, 3, 40), gen.make_inputs(8, 3, 40)
    assert a.bulk_ndjson() != b.bulk_ndjson()
    assert [r.path for r in a.queries] != [r.path for r in b.queries] or [
        r.body for r in a.queries
    ] != [r.body for r in b.queries]


def test_generator_shapes():
    inputs = gen.make_inputs(3, 2, 18)
    series = {(p.series, p.host) for p in inputs.bulk}
    assert len(series) == len(gen.METRICS) * len(gen.HOSTS)
    assert len({p.ts // 3600 for p in inputs.bulk}) == gen.DAYS * 24
    # ingest batches continue past the table
    assert min(p.ts for b in inputs.batches for p in b) >= gen.T_END > max(p.ts for p in inputs.bulk)
    # every class appears once per cycle of the stream, and once in the probes
    assert sorted(r.cls for r in inputs.queries[:9]) == sorted(gen.QUERY_CLASSES)
    assert sorted(r.cls for r in inputs.probes) == sorted(gen.QUERY_CLASSES)
    assert json.loads(gen.batch_body(inputs.batches[0]).splitlines()[0])["tags"]["host"]
    docs = gen.documents(3, 200)
    assert len(set(docs["text"])) < 200  # exact duplicates for dedup_exact
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


# --- percentiles ---------------------------------------------------------------
def test_tail_is_highest_percentile_with_ten_beyond():
    values = [float(i) for i in range(1, 101)]
    t = stats.tail(values)
    assert (t.pct, t.value, t.n) == (90, 90.0, 100)
    assert sum(v > t.value for v in values) == 10


def test_tail_drops_below_cap_for_small_samples():
    values = [float(i) for i in range(1, 51)]
    t = stats.tail(values)
    assert (t.pct, t.n) == (80, 50)
    assert sum(v > t.value for v in values) == 10
    # one more percent would leave only 9 beyond
    assert sum(v > stats.percentile(values, 81) for v in values) == 9


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def test_mean_class_median_weighs_classes_equally():
    classes = {"fast": [1.0, 2.0, 3.0, 100.0], "slow": [10.0]}
    assert stats.mean_class_median(classes) == pytest.approx((2.5 + 10.0) / 2)


def test_percentile_nearest_rank():
    assert stats.percentile([3.0, 1.0, 2.0, 4.0], 50) == 2.0
    assert stats.percentile([3.0, 1.0, 2.0, 4.0], 90) == 4.0


# --- error_rate ----------------------------------------------------------------
class _Stub(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def log_message(self, *args) -> None:
        pass

    def do_POST(self) -> None:  # noqa: N802
        self.rfile.read(int(self.headers["Content-Length"]))
        if self.path == "/api/v1/ingest":
            status, body = 503, b"{}"
        else:
            status, body = 200, json.dumps({"columns": [], "rows": [], "stats": {}}).encode()
        self.send_response(status)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self) -> None:  # noqa: N802
        body = json.dumps([{"ts": 1, "value": 1.0}]).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture
def stub_server():
    httpd = ThreadingHTTPServer(("127.0.0.1", 0), _Stub)
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    yield httpd
    httpd.shutdown()
    httpd.server_close()
    thread.join(timeout=10)
    assert not thread.is_alive()


def test_error_rate_counts_non_2xx_and_wrong_answer(stub_server, tmp_path: Path):
    bench = Bench("read_serve", 1, 1, False, tmp_path)
    client = Client(stub_server.server_address)
    inputs = gen.make_inputs(1, 1, 18)
    sydraql = next(r for r in inputs.queries if r.cls == "scan")
    ranged = next(r for r in inputs.queries if r.cls == "range")
    assert bench.query(client, ranged, "ok").ok  # 200, one row
    assert not bench.query(client, sydraql, "empty").ok  # 200, but no rows
    assert not bench.ingest(client, inputs.batches[0], "refused").ok  # 503
    client.close()
    f = bench.failures
    assert (f.attempted, f.failed) == (3, 2)
    assert f.error_rate == pytest.approx(2 / 3)
    assert "wrong answer" in f.reasons[0] and "HTTP 503" in f.reasons[1]


def test_failures_record_kinds():
    f = stats.Failures()
    assert f.record("a")
    assert not f.record("b", status=500)
    assert not f.record("c", status=None, error="TimeoutError")
    assert not f.record("d", mismatch="row differs")
    assert (f.attempted, f.failed) == (4, 3)


# --- spans -------------------------------------------------------------------
def test_covered_merges_overlaps_and_clips():
    assert covered(0.0, 10.0, [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]) == pytest.approx(6.0)
    assert covered(0.0, 10.0, [(-5.0, 1.0), (4.0, 4.5)]) == pytest.approx(1.5)
    assert covered(0.0, 10.0, []) == 0.0


def test_self_time_subtracts_children_once():
    spans = [
        Span("root", 0.0, 10.0, None, "r"),
        Span("a", 1.0, 3.0, 0, "r"),
        Span("b", 2.0, 5.0, 0, "r"),
        Span("a.inner", 1.5, 2.5, 1, "r"),  # a grandchild does not count twice
    ]
    kids = {0: [1, 2], 1: [3]}
    assert self_time(spans, 0, kids) == pytest.approx(6.0)
    assert self_time(spans, 1, kids) == pytest.approx(1.0)


class _Layer:
    def outer(self, x):
        return inner(x) + 1


def inner(x):
    return x * 2


def test_wrappers_patch_caller_lookup_and_nest():
    import sys

    module = sys.modules[__name__]
    tracer = Tracer()
    tracer.wrap(_Layer, "outer", "outer")
    tracer.wrap(module, "inner", "inner")  # the global that outer() looks up
    with tracer.span("request", rid="r1"):
        assert _Layer().outer(3) == 7
    tracer.uninstall()
    names = [s.name for s in tracer.spans]
    assert names == ["request", "outer", "inner"]
    assert [s.parent for s in tracer.spans] == [None, 0, 1]
    assert {s.rid for s in tracer.spans} == {"r1"}
    assert "outer" not in vars(_Layer) or not hasattr(_Layer.outer, "__wrapped__")
    assert not hasattr(inner, "__wrapped__")


# --- oracle helpers -------------------------------------------------------------
def test_fill_linear_interpolates_gaps():
    assert oracle.fill_linear([(0, 1.0), (180, 4.0)], 60) == [
        (0, 1.0), (60, 2.0), (120, 3.0), (180, 4.0)
    ]


def test_lttb_keeps_ends_and_spike():
    rows = [(i, 0.0) for i in range(50)]
    rows[20] = (20, 100.0)
    picked = oracle.lttb(rows, 10)
    assert len(picked) == 10
    assert picked[0] == rows[0] and picked[-1] == rows[-1]
    assert (20, 100.0) in picked


def test_pipeline_compare_ignores_order_and_null_kinds():
    import pandas as pd

    got = pd.DataFrame({"b": [2.0, float("nan")], "a": [1, 0]})
    want = pd.DataFrame({"a": [0, 1], "b": [None, 2.0 + 1e-12]})
    assert pipeline.compare(got, want) is None
    assert pipeline.compare(got, want.assign(b=[None, 3.0])) is not None
    assert pipeline.compare(got.rename(columns={"b": "c"}), want) is not None


def test_units_come_from_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert declared_units(False) == {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert declared_units(True)["pipeline.docs_per_s"] == "docs/s"


def test_compare_rows_tolerates_float_noise_only():
    assert oracle.compare_rows([(1, 0.1 + 0.2)], [(1, 0.3)]) is None
    assert oracle.compare_rows([(1, 0.31)], [(1, 0.3)]) is not None
    assert oracle.compare_rows([(1, 0.3)], []) is not None
