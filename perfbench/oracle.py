"""Correctness checks, run untimed after the measured phase.

``read_serve``: one probe query per class, answered by the engine over
HTTP and by DuckDB over the same generated points (LTTB picks are computed
in Python over DuckDB's raw rows, ``find`` ids through the model's own
series-id expression). ``mixed_ingest``: a fresh engine on the table must
return every acknowledged point exactly once.
"""

from __future__ import annotations

import math

from perfbench import gen

REL_TOL = 1e-9


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    return a == b


def _sort_key(row: tuple) -> str:
    # floats rounded so both sides order alike despite float noise; repr so
    # None, numbers and tuples sort together
    return repr(tuple(round(x, 4) if isinstance(x, float) else x for x in row))


def compare_rows(got: list, want: list) -> str | None:
    """Order-insensitive row compare with a float tolerance; the first
    difference as text, or None when the row sets agree."""
    got = sorted((tuple(r) for r in got), key=_sort_key)
    want = sorted((tuple(r) for r in want), key=_sort_key)
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return f"row {g} != expected {w}"
    return None


def lttb(rows: list[tuple[int, float]], n_out: int) -> list[tuple[int, float]]:
    """Largest-Triangle-Three-Buckets over (ts, value) rows sorted by
    (ts, value): first and last kept, one pick per interior bucket, bucket
    edges at ``linspace(1, n - 1, n_out - 1)`` truncated (computed as
    ``i * step + 1``, as NumPy does), centroids summed left to right."""
    n = len(rows)
    if n <= n_out:
        return list(rows)
    step = (n - 2) / (n_out - 2)
    edges = [int(i * step + 1) for i in range(n_out - 1)]
    edges[-1] = n - 1
    keep, prev = [0], 0
    for b in range(n_out - 2):
        s, e = edges[b], edges[b + 1]
        nxt_s = edges[b + 1]
        nxt_e = edges[b + 2] if b + 2 < len(edges) else n
        if nxt_e > nxt_s:
            cx = cy = 0.0
            for t, v in rows[nxt_s:nxt_e]:
                cx += t
                cy += v
            cx, cy = cx / (nxt_e - nxt_s), cy / (nxt_e - nxt_s)
        else:
            cx, cy = float(rows[e - 1][0]), rows[e - 1][1]
        tp, vp = rows[prev]
        best, best_area = s, -1.0
        for i in range(s, e):
            t, v = rows[i]
            area = abs((tp - cx) * (v - vp) - (tp - t) * (cy - vp))
            if area > best_area:
                best, best_area = i, area
        prev = best
        keep.append(prev)
    keep.append(n - 1)
    return [rows[i] for i in keep]


def fill_linear(buckets: list[tuple[int, float]], step: int) -> list[tuple[int, float]]:
    """Densify (bucket, value) rows from the first to the last bucket and
    interpolate each missing bucket between its filled neighbours."""
    if not buckets:
        return []
    have = dict(buckets)
    lo, hi = min(have), max(have)
    known = sorted(have)
    out, j = [], 0
    for b in range(lo, hi + 1, step):
        if b in have:
            out.append((b, have[b]))
            continue
        while known[j + 1] < b:
            j += 1
        b0, b1 = known[j], known[j + 1]
        v0, v1 = have[b0], have[b1]
        out.append((b, v0 + (v1 - v0) * (b - b0) / (b1 - b0)))
    return out


class Oracle:
    """DuckDB over the points a run loaded into the engine."""

    def __init__(self, points: list[gen.Point]):
        import duckdb
        import pyarrow as pa

        self.con = duckdb.connect(config={"autoinstall_known_extensions": False})
        self.con.register(
            "pts_src",
            pa.table(
                {
                    "series": [p.series for p in points],
                    "host": [p.host for p in points],
                    "ts": pa.array([p.ts for p in points], pa.int64()),
                    "value": pa.array([p.value for p in points], pa.float64()),
                }
            ),
        )
        self.con.execute("create table pts as select * from pts_src")

    def close(self) -> None:
        self.con.close()

    def _q(self, sql: str, *params) -> list[tuple]:
        return self.con.execute(sql, list(params)).fetchall()

    def _raw(self, p: dict, end_inclusive: bool) -> list[tuple]:
        op = "<=" if end_inclusive else "<"
        return self._q(
            f"select ts, value from pts where series = ? and host = ? "
            f"and ts >= ? and ts {op} ? order by ts, value",
            p["metric"], p["host"], p["start"], p["end"],
        )

    def expected(self, req: gen.Request) -> list:
        """Expected rows for one probe request, in the response's row shape
        (``find`` answers with (series, host) pairs; see ``find_keys``)."""
        p = req.probe
        sel = "series = ? and host = ? and ts >= ? and ts < ?"
        args = (p.get("metric"), p.get("host"), p.get("start"), p.get("end"))
        if req.cls == "scan":
            return self._raw(p, end_inclusive=False)
        if req.cls == "bucket_agg":
            return self._q(
                f"select ts // 300 * 300 as b, avg(value), max(value) from pts "
                f"where {sel} group by b", *args,
            )
        if req.cls == "rate":
            return self._q(
                f"select ts // 3600 * 3600 as b, case when max(ts) > min(ts) then "
                f"(arg_max(value, ts) - arg_min(value, ts)) / (max(ts) - min(ts)) end "
                f"from pts where {sel} group by b", *args,
            )
        if req.cls == "fill":
            agg = self._q(
                f"select ts // 60 * 60 as b, avg(value) from pts where {sel} "
                f"group by b order by b", *args,
            )
            return fill_linear(agg, 60)
        if req.cls == "window":
            return self._q(
                f"select ts, avg(value) over (order by ts range between "
                f"{gen.WINDOW_SECONDS} preceding and current row) "
                f"from pts where {sel}", *args,
            )
        if req.cls == "wide_agg":
            return self._q(
                "select host, ts // 3600 * 3600 as h, avg(value) from pts "
                "where series = ? and ts >= ? and ts < ? group by host, h",
                p["metric"], p["start"], p["end"],
            )
        if req.cls == "range":
            return self._raw(p, end_inclusive=True)
        if req.cls == "range_lttb":
            return lttb(self._raw(p, end_inclusive=True), gen.LTTB_POINTS)
        if req.cls == "find":
            return self.find_keys(p["tags"])
        raise ValueError(f"unknown query class {req.cls!r}")

    def find_keys(self, tags: dict) -> list[tuple[str, str]]:
        """(series, host) of every stored series whose tags hold ``tags``."""
        conds, args = [], []
        for k, v in tags.items():
            if k == "host":
                conds.append("host = ?")
                args.append(v)
            elif k == "dc":
                # dc is derived from host (gen.tags_for)
                conds.append(
                    "'dc' || (cast(substr(host, 2) as integer) % 2) = ?"
                )
                args.append(v)
            else:
                return []
        return self._q(
            f"select distinct series, host from pts where {' and '.join(conds)}", *args
        )


def response_rows(req: gen.Request, body) -> list:
    """The rows of one engine response, in the oracle's row shape."""
    if req.cls in ("range", "range_lttb"):
        return [(r["ts"], r["value"]) for r in body]
    if req.cls == "find":
        return list(body)
    return [tuple(r) for r in body["rows"]]


def series_ids(spark, keys: list[tuple[str, str]]) -> list[int]:
    """Series ids of (series, host) keys through ``model.series_id`` — the
    definition of series identity, not the find path under test."""
    from pyspark.sql import functions as F

    from sydradb_spark.model import series_id

    if not keys:
        return []
    rows = [(s, gen.tags_for(h)) for s, h in keys]
    df = spark.createDataFrame(rows, "series string, tags map<string,string>")
    return [r[0] for r in df.select(series_id(F.col("series"), F.col("tags"))).collect()]


def check_probe(oracle: Oracle, spark, req: gen.Request, body) -> str | None:
    got = response_rows(req, body)
    want = oracle.expected(req)
    if req.cls == "find":
        want = [(i,) for i in series_ids(spark, want)]
        got = [(i,) for i in got]
    if not want:
        return "probe has an empty expected answer"
    return compare_rows(got, want)


def check_acknowledged(spark, table: str, stored: int, acked: list[gen.Point]) -> str | None:
    """Open a fresh engine on ``table``: it must hold exactly ``stored``
    points and every acknowledged point exactly once, with its value."""
    from pyspark.sql import functions as F

    from sydradb_spark.sydraql.engine import SydraQLEngine

    pts = SydraQLEngine(spark, storage_path=table).points
    total = pts.count()
    if total != stored:
        return f"table holds {total} points, expected {stored}"
    want = spark.createDataFrame(
        [(p.series, p.host, p.ts, p.value) for p in acked],
        "series string, host string, ts long, value double",
    )
    have = pts.select(
        "series", F.col("tags")["host"].alias("host"), "ts", F.col("value").alias("got")
    )
    bad = (
        want.join(have, ["series", "host", "ts"], "left")
        .groupBy("series", "host", "ts", "value")
        .agg(F.count("got").alias("n"), F.max("got").alias("got"))
        .where((F.col("n") != 1) | (F.col("got") != F.col("value")))
    )
    n_bad = bad.count()
    if n_bad:
        return f"{n_bad} of {len(acked)} acknowledged points not readable exactly once"
    return None
