"""HTTP front-end mirroring the reference's route surface (src/sydra/http.zig).

Routes (http.zig:64-120 dispatch):

- ``GET  /status``                → ``{"status":"ok"}`` (http.zig:625-629)
- ``GET  /metrics``               → Prometheus exposition text (http.zig:452-477)
- ``GET  /debug/compat/stats``    → ``{"translations","fallbacks","cache_hits"}``
  (http.zig:479-489; the repo adds the per-class block)
- ``GET  /debug/compat/catalog``  → catalog snapshot JSON (http.zig:491-623)
- ``POST /api/v1/ingest``         → NDJSON body, ``{"ingested": N}``
  (http.zig:657-712)
- ``POST|GET /api/v1/query/range``→ ``[{"ts","value"}, ...]`` (http.zig:714-830)
- ``POST /api/v1/query/find``     → JSON array of series_ids (http.zig:832-912)
- ``POST /api/v1/sydraql``        → ``{"columns","rows","stats"}``
  (http.zig:218-298, shaped by sydradb_spark.api.to_response)

Bearer auth guards ``/api/*`` when a token is configured (http.zig:74-85);
payload caps mirror the reference (256 KiB sydraql, 64 KiB range/find).

Read-route plans (DEPLOY.md "Query execution"):

- range, raw or ``max_points``: ONE Spark job. A (series, tags) identity
  is a literal column Catalyst folds, so the scan filters on
  ``series_id = <long>`` with the hour partitions pruned; the route
  collects at most ``max_rows + 1`` points in (ts, value) order, and
  ``max_points`` runs LTTB on the driver over those rows
  (``functions.timeseries.lttb_indices``). Only a range over the cap
  thins in Spark first, per time bucket, to about ``max_rows`` rows.
- find: two jobs — one filter on tag-map lookups, deduplicated per series
  (``tagindex.find_series``).

Production posture (DEPLOY.md): this is the driver-side control/compat
surface — interactive queries and trickle ingest. Bulk traffic belongs on
Structured Streaming ingest and Spark Connect/Thrift.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qs, urlparse

_MAX_SYDRAQL = 256 * 1024
_MAX_BODY = 64 * 1024


def _json_default(v: Any) -> str:
    return str(v)


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    # silence per-request stderr logging
    def log_message(self, fmt: str, *args: Any) -> None:  # noqa: A003
        pass

    @property
    def app(self) -> "SydraHttpServer":
        return self.server.sydra  # type: ignore[attr-defined]

    # --- plumbing ---------------------------------------------------------
    def _send(
        self,
        status: int,
        body: bytes,
        ctype: str = "application/json",
        headers: dict[str, str] | None = None,
    ) -> None:
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(body)

    def _send_json(
        self, status: int, obj: Any, headers: dict[str, str] | None = None
    ) -> None:
        self._send(
            status, json.dumps(obj, default=_json_default).encode(), headers=headers
        )

    def _error(self, status: int, message: str) -> None:
        # error paths may leave the request body unread; under HTTP/1.1
        # keep-alive those bytes would be parsed as the next request line
        # (framing desync). The reference sets keep_alive=false on every
        # error path — mirror it.
        self.close_connection = True
        self._send_json(status, {"error": message})

    def _body(self, cap: int) -> bytes | None:
        length = self.headers.get("Content-Length")
        if length is None:
            self._error(411, "length required")
            return None
        n = int(length)
        if n > cap:
            self._error(413, "payload too large")
            return None
        return self.rfile.read(n)

    def _authorized(self, path: str) -> bool:
        token = self.app.auth_token
        if not token or not path.startswith("/api/"):
            return True
        import hmac

        auth = self.headers.get("Authorization", "")
        # constant-time compare: a plain == leaks the token prefix length
        # through response timing (r14 serving-stack review)
        if hmac.compare_digest(auth, f"Bearer {token}"):
            return True
        self.close_connection = True  # unread body must not desync keep-alive
        self._send(401, b"unauthorized", "text/plain")
        return False

    # --- dispatch ---------------------------------------------------------
    def do_GET(self) -> None:  # noqa: N802
        url = urlparse(self.path)
        if not self._authorized(url.path):
            return
        try:
            self._do_get(url)
        except BrokenPipeError:
            raise
        except Exception as exc:  # noqa: BLE001 — bad params answer 400,
            # not a dropped connection (reference handleQueryGet parses
            # params and responds 400 on bad input)
            self._error(400, str(exc).split("\n")[0][:500])

    def _do_get(self, url) -> None:
        if url.path == "/status":
            self._send_json(200, {"status": "ok"})
        elif url.path == "/metrics":
            from sydradb_spark import metrics

            eng = self.app.engine
            text = metrics.to_prometheus_text(
                eng.storage_path, version=eng.version, store=eng.store
            )
            self._send(200, text.encode(), "text/plain; version=0.0.4")
        elif url.path == "/debug/compat/stats":
            from sydradb_spark.compat.translator import STATS

            self._send_json(200, STATS.snapshot())
        elif url.path == "/debug/compat/catalog":
            from sydradb_spark.compat.catalog import snapshot_json

            self._send_json(200, snapshot_json(self.app.catalog_snapshot))
        elif url.path == "/api/v1/query/range":
            params = {k: v[0] for k, v in parse_qs(url.query).items()}
            self._query_range(params)
        else:
            self._send(404, b"not found", "text/plain")

    def do_POST(self) -> None:  # noqa: N802
        url = urlparse(self.path)
        if not self._authorized(url.path):
            return
        try:
            if url.path == "/api/v1/sydraql":
                self._sydraql()
            elif url.path == "/api/v1/ingest":
                self._ingest()
            elif url.path == "/api/v1/query/range":
                body = self._body(_MAX_BODY)
                if body is not None:
                    self._query_range(json.loads(body or b"{}"))
            elif url.path == "/api/v1/query/find":
                self._find()
            else:
                self._send(404, b"not found", "text/plain")
        except BrokenPipeError:
            raise
        except Exception as exc:  # noqa: BLE001 — surface as JSON error
            self._error(400, str(exc).split("\n")[0][:500])

    # --- handlers ---------------------------------------------------------
    def _sydraql(self) -> None:
        body = self._body(_MAX_SYDRAQL)
        if body is None:
            return
        sydraql = body.decode("utf-8", "replace").strip()
        if not sydraql:
            self._error(400, "query required")
            return
        from sydradb_spark.api import to_response

        result = self.app.engine.query(sydraql)
        self._send_json(200, to_response(result, max_rows=self.app.max_rows))

    def _ingest(self) -> None:
        body = self._body(_MAX_SYDRAQL)
        if body is None:
            return
        # Per-line leniency mirrors the reference (http.zig handleIngest:
        # parseFromSlice catch continue): malformed lines are skipped, not
        # batch-fatal, and a missing `value` defaults to the first numeric
        # in `fields` (else 0.0). The response reports lines ACTUALLY
        # ingested, so a caller can detect drops.
        rows = []
        for line in body.decode("utf-8", "replace").splitlines():
            line = line.strip()
            if not line:
                continue
            try:
                obj = json.loads(line)
                series = str(obj["series"])
                ts = int(obj["ts"])
            except (ValueError, KeyError, TypeError):
                continue
            tags = obj.get("tags") or {}
            if not isinstance(tags, dict):
                tags = {}
            if "value" in obj:
                v = obj["value"]
                # reference-exact (http.zig:683-687): the value switch maps
                # .float/.integer to the number and EVERYTHING ELSE — bool,
                # string, null, object — to 0. float('1.5')/float(True)
                # previously diverged (1.5/1.0), and an unparsable value
                # dropped the whole line (r14 serving-stack review).
                value = (
                    float(v)
                    if isinstance(v, (int, float)) and not isinstance(v, bool)
                    else 0.0
                )
            else:
                fields = obj.get("fields")
                value = 0.0
                if isinstance(fields, dict):
                    for v in fields.values():
                        if isinstance(v, (int, float)) and not isinstance(v, bool):
                            value = float(v)
                            break
            rows.append(
                (series, {str(k): str(v) for k, v in tags.items()}, ts, value)
            )
        if rows:
            from sydradb_spark.model import driver_batch

            self.app.engine.ingest_points(driver_batch(self.app.engine.spark, rows))
            from sydradb_spark import metrics

            metrics.inc("sydra_points_ingested_total", len(rows))
        self._send_json(200, {"ingested": len(rows)})

    def _query_range(self, params: dict[str, Any]) -> None:
        if "start" not in params or "end" not in params:
            self._error(400, "missing start/end")
            return
        start, end = int(params["start"]), int(params["end"])
        if "series_id" in params:
            sid = int(params["series_id"])
        elif "series" in params:
            tags = params.get("tags") or {}
            if isinstance(tags, str):  # GET passes tags as a JSON string
                tags = json.loads(tags) if tags.strip() else {}
            if not isinstance(tags, dict):
                self._error(400, "tags must be a JSON object")
                return
            from sydradb_spark.model import series_id_literal

            # a constant the planner folds: the scan filters on the hashed
            # id without a job to compute it
            sid = series_id_literal(str(params["series"]), tags)
        else:
            self._error(400, "missing series identifier")
            return
        # optional chart downsampling: max_points=N applies LTTB to the
        # range (beyond the reference, which only serves raw ranges) —
        # spikes survive where bucket-averaging loses them, and the
        # response size is bounded by N instead of max_rows
        max_points = params.get("max_points")
        if max_points is not None:
            try:
                max_points = int(max_points)
            except (TypeError, ValueError):
                self._error(400, "max_points must be an integer")
                return
            if max_points < 3:
                self._error(400, "max_points must be >= 3")
                return
            # the per-bucket thinning below bounds LTTB input at
            # ~max_rows only when n_buckets <= max_rows (cap = max_rows //
            # n_buckets); an unbounded max_points would put nearly every
            # row in its own bucket and defeat the work cap entirely
            if max_points > self.app.max_rows:
                self._error(
                    400, f"max_points must be <= {self.app.max_rows}"
                )
                return
        from sydradb_spark.storage import where_range

        pts = where_range(self.app.engine.points, sid, start, end)
        # hard per-request work cap: the driver never collects more than
        # max_rows + 1 points, however wide [start, end] is. Both paths
        # fetch one past the cap so truncation is detected, not guessed,
        # and any point dropped beyond what the client asked for is
        # SIGNALED (X-Sydra-Truncated).
        max_rows = self.app.max_rows
        rows = _collect_range(pts, max_rows + 1)
        truncated = len(rows) > max_rows
        covered_end = None
        if max_points is not None:
            if truncated:
                # bound LTTB input PER TIME-BUCKET so the downsample
                # still spans the full requested range: max_points
                # buckets over [start, end], keep the earliest
                # max_rows/max_points rows of each — ~max_rows total,
                # full-range coverage
                from pyspark.sql import Window
                from pyspark.sql import functions as F

                n_buckets = max_points
                cap = max(max_rows // n_buckets, 1)
                span = max(end - start + 1, 1)
                bucket = F.least(
                    F.lit(n_buckets - 1),
                    F.floor(
                        (F.col("ts") - F.lit(start)) * F.lit(n_buckets) / F.lit(span)
                    ),
                )
                w = Window.partitionBy("__b").orderBy("ts", "value")
                rows = _collect_range(
                    pts.withColumn("__b", bucket)
                    .withColumn("__rn", F.row_number().over(w))
                    .where(F.col("__rn") <= cap),
                    None,
                )
            from sydradb_spark.functions.timeseries import lttb_indices

            picks = lttb_indices(
                [r["ts"] for r in rows],
                [r["value"] for r in rows],
                max_points,
            )
            rows = [rows[i] for i in sorted(picks)]
        elif truncated:
            nxt = rows[max_rows]
            rows = rows[:max_rows]
            # covered-end is the last FULLY-served timestamp: if the cut
            # falls inside a run of equal timestamps (sort is (ts,
            # value)), that ts is only partially served — report the
            # previous second so a client resuming from covered_end + 1
            # misses nothing (it may re-fetch the partial second's served
            # rows, never lose the dropped ones)
            last_ts = rows[-1]["ts"]
            covered_end = last_ts - 1 if nxt["ts"] == last_ts else last_ts
            if covered_end < start:
                # a single timestamp at the window start holds more than
                # max_rows rows: covered_end - 1 would send a resuming
                # client back to the identical request (r8 ADVICE).
                # Signal the overflow distinctly instead of a covered-end
                # that cannot make progress.
                covered_end = None
                overflow_ts = last_ts
        headers = None
        if truncated:
            headers = {"X-Sydra-Truncated": "true"}
            if covered_end is None and max_points is None:
                headers["X-Sydra-Overflow-Ts"] = str(overflow_ts)
            if covered_end is not None:
                # the raw path serves only [start, covered-end]; the LTTB
                # path still covers the full range (input thinned instead)
                headers["X-Sydra-Covered-End"] = str(covered_end)
        self._send_json(
            200,
            [{"ts": r["ts"], "value": r["value"]} for r in rows],
            headers=headers,
        )

    def _find(self) -> None:
        body = self._body(_MAX_BODY)
        if body is None:
            return
        obj = json.loads(body or b"{}")
        mode = "or" if str(obj.get("op", "and")).lower() == "or" else "and"
        tags = obj.get("tags") or {}
        if not isinstance(tags, dict) or not tags:
            self._send_json(200, [])
            return
        from sydradb_spark.tagindex import find_series

        found = find_series(
            self.app.engine.points,
            {str(k): str(v) for k, v in tags.items()},
            mode=mode,
        )
        self._send_json(200, sorted(r["series_id"] for r in found.collect()))


def _collect_range(pts, limit: int | None) -> list:
    """(ts, value) rows of a range frame, in (ts, value) order, at most
    ``limit`` of them."""
    out = pts.orderBy("ts", "value")
    if limit is not None:
        out = out.limit(limit)
    return out.select("ts", "value").collect()


class SydraHttpServer:
    """Threaded HTTP server over one SydraQLEngine. ``port=0`` → ephemeral."""

    def __init__(
        self,
        engine,
        host: str = "127.0.0.1",
        port: int = 0,
        auth_token: str = "",
        max_rows: int = 10_000,
    ):
        from sydradb_spark.compat.catalog import build_snapshot

        self.engine = engine
        self.auth_token = auth_token
        self.max_rows = max_rows
        self.catalog_snapshot = build_snapshot()
        self._httpd = ThreadingHTTPServer((host, port), _Handler)
        self._httpd.daemon_threads = True
        self._httpd.sydra = self  # type: ignore[attr-defined]
        self._thread: threading.Thread | None = None

    def series_id_for(self, series: str, tags: dict) -> int:
        """(series, tags) → series_id: the same literal column the range
        route filters on, evaluated in one tiny job."""
        from sydradb_spark.model import series_id_literal

        row = (
            self.engine.spark.range(1)
            .select(series_id_literal(series, tags).alias("sid"))
            .collect()
        )
        return row[0]["sid"]

    @property
    def addr(self) -> tuple[str, int]:
        return self._httpd.server_address  # type: ignore[return-value]

    def start(self) -> "SydraHttpServer":
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
