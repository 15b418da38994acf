"""HTTP front-end: the reference's route surface end-to-end over sockets
(urllib against an ephemeral-port SydraHttpServer)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from sydradb_spark.server import SydraHttpServer
from sydradb_spark.sydraql.engine import SydraQLEngine


@pytest.fixture(scope="module")
def http(spark, points):
    server = SydraHttpServer(SydraQLEngine(spark, points)).start()
    yield server
    server.stop()


def _url(http, path):
    host, port = http.addr
    return f"http://{host}:{port}{path}"


def _get(http, path):
    with urllib.request.urlopen(_url(http, path), timeout=30) as r:
        return r.status, r.read()


def _post(http, path, body: bytes, headers=None):
    req = urllib.request.Request(
        _url(http, path), data=body, headers=headers or {}, method="POST"
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        return r.status, r.read()


def test_status_and_metrics(http):
    status, body = _get(http, "/status")
    assert status == 200 and json.loads(body) == {"status": "ok"}
    status, body = _get(http, "/metrics")
    assert status == 200
    assert b"# TYPE sydra_queries_total counter" in body


def test_debug_compat_routes(http):
    status, body = _get(http, "/debug/compat/stats")
    snap = json.loads(body)
    assert status == 200
    assert {"translations", "fallbacks", "cache_hits"} <= set(snap)
    status, body = _get(http, "/debug/compat/catalog")
    cat = json.loads(body)
    assert status == 200
    assert [ns["name"] for ns in cat["namespaces"]] == ["pg_catalog", "public"]
    assert len(cat["types"]) == 28


def test_sydraql_roundtrip(http):
    status, body = _post(
        http,
        "/api/v1/sydraql",
        b"select time, value from cpu.total where time >= 1000000 and time < 1000060",
    )
    assert status == 200
    out = json.loads(body)
    assert [c["name"] for c in out["columns"]] == ["time", "value"]
    assert len(out["rows"]) == 5
    assert out["stats"]["rows_returned"] == 5


def test_sydraql_truncation_signaled(spark):
    """A sydraQL result longer than max_rows is cut to max_rows AND says so
    (stats.truncated + X-Sydra-Truncated, as the range route does); a
    result at or under the cap carries no signal."""
    from sydradb_spark.model import with_identity

    df = with_identity(
        spark.createDataFrame(
            [("t.metric", {"host": "a"}, 1_000_000 + 10 * i, float(i)) for i in range(10)],
            "series string, tags map<string,string>, ts long, value double",
        )
    )
    server = SydraHttpServer(SydraQLEngine(spark, df), max_rows=5).start()
    try:

        def post(q: bytes):
            req = urllib.request.Request(_url(server, "/api/v1/sydraql"), data=q, method="POST")
            with urllib.request.urlopen(req, timeout=60) as r:
                return json.loads(r.read()), dict(r.headers)

        out, hdrs = post(b"select time, value from t.metric where time >= 1000000 and time < 1000100")
        assert [r[1] for r in out["rows"]] == [0.0, 1.0, 2.0, 3.0, 4.0]
        assert out["stats"]["rows_returned"] == 5
        assert out["stats"]["truncated"] is True
        assert hdrs.get("X-Sydra-Truncated") == "true"

        out, hdrs = post(b"select time, value from t.metric where time >= 1000000 and time < 1000050")
        assert len(out["rows"]) == 5
        assert "truncated" not in out["stats"]
        assert "X-Sydra-Truncated" not in hdrs
    finally:
        server.stop()


def test_sydraql_error_shape(http):
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(http, "/api/v1/sydraql", b"select value from cpu.total")  # no time pred
    assert e.value.code == 400
    assert "error" in json.loads(e.value.read())


def test_query_range_post_and_get(http):
    body = json.dumps(
        {
            "series": "cpu.total",
            "tags": {"host": "a", "env": "dev"},
            "start": 1000000,
            "end": 1000045,
        }
    ).encode()
    status, out = _post(http, "/api/v1/query/range", body)
    pts = json.loads(out)
    assert status == 200
    # 15s cadence → ts 1000000(+dup), 1000015, 1000030, 1000045
    assert [p["ts"] for p in pts] == [1000000, 1000000, 1000015, 1000030, 1000045]
    sid = http.series_id_for("cpu.total", {"host": "a", "env": "dev"})
    status, out2 = _get(
        http, f"/api/v1/query/range?series_id={sid}&start=1000000&end=1000045"
    )
    assert status == 200 and json.loads(out2) == pts


def test_find_and_or(http):
    status, out = _post(
        http,
        "/api/v1/query/find",
        json.dumps({"tags": {"host": "a", "env": "prod"}}).encode(),
    )
    ids_and = json.loads(out)
    assert status == 200 and len(ids_and) == 1  # weather.room1 only
    status, out = _post(
        http,
        "/api/v1/query/find",
        json.dumps({"op": "or", "tags": {"host": "a", "env": "prod"}}).encode(),
    )
    ids_or = json.loads(out)
    assert set(ids_and) <= set(ids_or) and len(ids_or) == 3


def test_ingest_then_query(spark, points):
    server = SydraHttpServer(SydraQLEngine(spark, points)).start()
    try:
        lines = (
            b'{"series": "http.new", "ts": 1000100, "value": 1.5, "tags": {"host": "z"}}\n'
            b'{"series": "http.new", "ts": 1000160, "value": 2.5}\n'
        )
        status, out = _post(server, "/api/v1/ingest", lines)
        assert status == 200 and json.loads(out) == {"ingested": 2}
        status, out = _post(
            server,
            "/api/v1/sydraql",
            b"select count() as n from http.new where time >= 1000000 and time < 2000000",
        )
        assert status == 200
        assert json.loads(out)["rows"] == [[2]]
    finally:
        server.stop()


def test_bearer_auth(spark, points):
    server = SydraHttpServer(
        SydraQLEngine(spark, points), auth_token="sekrit"
    ).start()
    try:
        # /api/* without token → 401; non-api routes stay open
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(server, "/api/v1/sydraql", b"select 1")
        assert e.value.code == 401
        status, _ = _get(server, "/status")
        assert status == 200
        status, out = _post(
            server,
            "/api/v1/sydraql",
            b"select 1",
            headers={"Authorization": "Bearer sekrit"},
        )
        assert status == 200 and json.loads(out)["rows"] == [[1]]
    finally:
        server.stop()


def test_not_found_and_length_required(http):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(http, "/nope")
    assert e.value.code == 404
    # POST with no Content-Length is awkward via urllib; missing start/end instead
    with pytest.raises(urllib.error.HTTPError) as e2:
        _post(http, "/api/v1/query/range", json.dumps({"series": "x"}).encode())
    assert e2.value.code == 400
    # a negative Content-Length answers 400 at once; read(-1) would block the
    # handler until the client hung up (urllib rejects the header, so raw)
    import socket

    with socket.create_connection(http.addr, timeout=3) as sock:
        sock.sendall(
            b"POST /api/v1/query/find HTTP/1.1\r\nHost: x\r\n"
            b"Content-Length: -1\r\n\r\n{}"
        )
        assert sock.recv(64).startswith(b"HTTP/1.1 400")


def test_cli_csv_import_and_query(spark, tmp_path):
    """python -m sydradb_spark csv-import + query (in-process, injected
    session — the serve path is covered by the HTTP/pgwire suites)."""
    import contextlib
    import io

    from sydradb_spark.__main__ import main

    csv = tmp_path / "pts.csv"
    csv.write_text(
        'series,ts,value,tags\n'
        'cli.metric,1000,1.5,"{""host"": ""a""}"\n'
        "cli.metric,2000,2.5,\n"
    )
    table = str(tmp_path / "table")
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = main(["csv-import", str(csv), "--storage", table], spark=spark)
    assert rc == 0 and json.loads(out.getvalue()) == {"ingested": 2}

    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = main(
            [
                "query",
                "select count() as n from cli.metric where time >= 0 and time < 10000",
                "--storage",
                table,
            ],
            spark=spark,
        )
    assert rc == 0
    resp = json.loads(out.getvalue())
    assert resp["rows"] == [[2]]


def test_query_range_get_with_tags_param(http):
    """ADVICE r05 (medium): GET passes tags as a JSON STRING in the query
    string — it must be parsed, and bad GET params must answer 400, not
    kill the connection with no response."""
    import urllib.parse

    tags = urllib.parse.quote('{"host": "a", "env": "dev"}')
    status, out = _get(
        http,
        f"/api/v1/query/range?series=cpu.total&tags={tags}"
        "&start=1000000&end=1000045",
    )
    assert status == 200
    assert [p["ts"] for p in json.loads(out)] == [
        1000000, 1000000, 1000015, 1000030, 1000045,
    ]
    # malformed tags JSON → 400 (an HTTP response, not a dropped socket)
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(http, "/api/v1/query/range?series=cpu.total&tags=notjson&start=1&end=2")
    assert e.value.code == 400
    # non-integer start → 400 as well
    with pytest.raises(urllib.error.HTTPError) as e2:
        _get(http, "/api/v1/query/range?series=cpu.total&start=abc&end=2")
    assert e2.value.code == 400


def test_ingest_lenient_per_line(spark, points):
    """ADVICE r05 (low) + r14 serving-stack review: mirror the reference's
    per-line ingest leniency EXACTLY — malformed lines skip (not
    batch-fatal), missing value defaults to the first numeric in `fields`
    (else 0.0), and a PRESENT but non-numeric value (string/bool/null)
    ingests as 0.0 (http.zig:683-687's `else => 0` switch arm) instead of
    dropping the line; the response counts lines actually ingested."""
    from sydradb_spark.sydraql.engine import SydraQLEngine

    server = SydraHttpServer(SydraQLEngine(spark, points)).start()
    try:
        lines = (
            b"this is not json\n"
            b'{"series": "http.lenient", "ts": 1000100,'
            b' "fields": {"note": "x", "load": 3.5}}\n'
            b'{"series": "http.lenient", "ts": 1000160}\n'
            b'{"series": "http.lenient"}\n'
            b'{"series": "http.lenient", "ts": 1000220, "value": "bad"}\n'
            b'{"series": "http.lenient", "ts": 1000280, "value": true}\n'
        )
        status, out = _post(server, "/api/v1/ingest", lines)
        # bad json + missing ts skip; string and bool values ingest as 0.0
        assert status == 200 and json.loads(out) == {"ingested": 4}
        status, out = _post(
            server,
            "/api/v1/sydraql",
            b"select count() as n, sum(value) as s from http.lenient"
            b" where time >= 1000000 and time < 2000000",
        )
        assert status == 200
        assert json.loads(out)["rows"] == [[4, 3.5]]
    finally:
        server.stop()


def test_query_range_truncation_signaled_and_lttb_spans_range(spark, points):
    """A range wider than max_rows must (a) signal truncation on the raw
    path (X-Sydra-Truncated + covered end) instead of silently serving the
    earliest slice, and (b) under max_points still downsample the WHOLE
    range — the r07 shape applied limit(max_rows) before LTTB, so charts
    over wide ranges showed only the oldest max_rows points."""
    server = SydraHttpServer(
        SydraQLEngine(spark, points), max_rows=20
    ).start()
    try:
        sid = server.series_id_for("cpu.total", {"host": "a", "env": "dev"})
        # cpu.total: 240 points at 15s cadence from ts=1000000
        rng = f"series_id={sid}&start=1000000&end=1003600"

        def get(path):
            with urllib.request.urlopen(_url(server, path), timeout=60) as r:
                return r.status, json.loads(r.read()), dict(r.headers)

        # raw path: capped at max_rows, truncation signaled with covered end
        status, raw, hdrs = get(f"/api/v1/query/range?{rng}")
        assert status == 200 and len(raw) == 20
        assert hdrs.get("X-Sydra-Truncated") == "true"
        # 20 rows = ts 1000000 twice (dup point) + 18 more at 15s cadence
        assert int(hdrs["X-Sydra-Covered-End"]) == raw[-1]["ts"] == 1000270

        # LTTB path: 12 points spanning the FULL range, not the first slice
        status, pts, hdrs = get(f"/api/v1/query/range?{rng}&max_points=12")
        assert status == 200 and len(pts) == 12
        assert hdrs.get("X-Sydra-Truncated") == "true"
        assert "X-Sydra-Covered-End" not in hdrs  # full range covered
        assert pts[0]["ts"] == 1000000
        assert pts[-1]["ts"] > 1003000  # reaches the end of the window

        # a range under the cap carries no truncation signal
        status, small, hdrs = get(
            f"/api/v1/query/range?series_id={sid}&start=1000000&end=1000100"
        )
        assert status == 200 and 0 < len(small) <= 20
        assert "X-Sydra-Truncated" not in hdrs
    finally:
        server.stop()


def test_query_range_single_ts_overflow_signaled(spark):
    """When a single timestamp at the window start holds more rows than
    max_rows, a covered-end of start-1 would loop a paginating client (r8
    ADVICE): the server must omit X-Sydra-Covered-End and signal the
    overflowing timestamp distinctly via X-Sydra-Overflow-Ts."""
    from sydradb_spark.model import with_identity

    rows = [("burst.metric", {"host": "a"}, 1_000_000, float(i)) for i in range(10)]
    rows += [("burst.metric", {"host": "a"}, 1_000_060, 42.0)]
    df = with_identity(
        spark.createDataFrame(
            rows, "series string, tags map<string,string>, ts long, value double"
        )
    )
    server = SydraHttpServer(SydraQLEngine(spark, df), max_rows=5).start()
    try:
        sid = server.series_id_for("burst.metric", {"host": "a"})
        with urllib.request.urlopen(
            _url(
                server,
                f"/api/v1/query/range?series_id={sid}&start=1000000&end=1000100",
            ),
            timeout=60,
        ) as r:
            body, hdrs = json.loads(r.read()), dict(r.headers)
        assert len(body) == 5 and all(p["ts"] == 1_000_000 for p in body)
        assert hdrs.get("X-Sydra-Truncated") == "true"
        assert "X-Sydra-Covered-End" not in hdrs
        assert hdrs.get("X-Sydra-Overflow-Ts") == "1000000"
    finally:
        server.stop()


def test_query_range_max_points_downsampling(http):
    """max_points=N serves an LTTB-downsampled range: N points, endpoints
    preserved, every returned point a real stored point; bad values 400."""
    import urllib.error

    sid = http.series_id_for("cpu.total", {"host": "a", "env": "dev"})
    status, raw = _get(
        http, f"/api/v1/query/range?series_id={sid}&start=1000000&end=1003600"
    )
    full = json.loads(raw)
    assert status == 200 and len(full) > 20
    status, out = _get(
        http,
        f"/api/v1/query/range?series_id={sid}&start=1000000&end=1003600&max_points=12",
    )
    pts = json.loads(out)
    assert status == 200 and len(pts) == 12
    assert pts[0]["ts"] == full[0]["ts"] and pts[-1]["ts"] == full[-1]["ts"]
    stored = {(p["ts"], p["value"]) for p in full}
    assert all((p["ts"], p["value"]) in stored for p in pts)
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(
            http,
            f"/api/v1/query/range?series_id={sid}&start=1000000&end=1003600&max_points=2",
        )
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(
            http,
            f"/api/v1/query/range?series_id={sid}&start=1000000&end=1003600&max_points=x",
        )
    assert e.value.code == 400
