"""The HTTP read routes' plans: series identity folded into the scan, LTTB
on the driver over one bounded collect, and the single-pass tag find —
pinned by job counts, the ids every stored table already carries, and the
shared LTTB kernel's agreement with the pandas UDF."""

from __future__ import annotations

import json
import os
import random
import re
import urllib.request

import numpy as np
import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from sydradb_spark import server as server_mod
from sydradb_spark import storage, tagindex
from sydradb_spark.functions.timeseries import lttb, lttb_indices
from sydradb_spark.model import INPUT_SCHEMA, series_id, series_id_literal, with_identity
from sydradb_spark.server import SydraHttpServer
from sydradb_spark.sydraql.engine import SydraQLEngine

T0 = 1_704_067_200  # an hour boundary
HOSTS = ("a", "b", "c", "d")
GROUP_HEADER = "X-Test-Job-Group"


def _old_series_id(series: Column, tags: Column) -> Column:
    """The identity expression every table written before the switch to
    ``sort_array`` carries: the reference the new one must equal."""
    sorted_map = F.map_from_entries(F.array_sort(F.map_entries(tags)))
    tags_json = F.when(
        tags.isNull() | (F.size(F.map_entries(tags)) == 0), F.lit("{}")
    ).otherwise(F.to_json(sorted_map))
    return F.xxhash64(F.concat(series, F.lit("|"), tags_json))


def _fuzz_string(rng: random.Random) -> str:
    alphabet = ["a", "Z", "0", "_", ".", "=", " ", '"', "\\", "\n", "\t", "\x01",
                "\x1f", "é", "日", "ß", "😀", "🚀", "{", "}", ":", ","]
    return "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 6)))


def _fuzz_tags(rng: random.Random) -> dict | None:
    roll = rng.random()
    if roll < 0.05:
        return None
    if roll < 0.1:
        return {}
    keys = list(dict.fromkeys(_fuzz_string(rng) for _ in range(rng.randint(1, 8))))
    rng.shuffle(keys)
    return {k: _fuzz_string(rng) for k in keys}


def test_series_id_equals_the_stored_identity_over_fuzzed_tags(spark):
    rng = random.Random(20261017)
    rows = [(f"m.{_fuzz_string(rng)}", _fuzz_tags(rng)) for _ in range(600)]
    rows += [("cpu", {"": ""}), ("cpu", {"k": ""}), ("", {"": "v"})]
    df = spark.createDataFrame(rows, "series string, tags map<string,string>")
    got = df.select(
        series_id(F.col("series"), F.col("tags")).alias("new"),
        _old_series_id(F.col("series"), F.col("tags")).alias("old"),
    ).collect()
    assert len(got) == len(rows)
    assert all(r["new"] == r["old"] for r in got)
    # the literal form folds to the same ids (null maps are not literals)
    lits = [(s, t) for s, t in rows[:60] if t is not None]
    folded = spark.range(1).select(
        *[series_id_literal(s, t).alias(f"c{i}") for i, (s, t) in enumerate(lits)]
    ).first()
    want = spark.createDataFrame(lits, "series string, tags map<string,string>").select(
        _old_series_id(F.col("series"), F.col("tags")).alias("old")
    ).collect()
    assert list(folded) == [r["old"] for r in want]


# --- a stored table and a server whose requests run under a job group ---------
def _rows() -> list[tuple]:
    out = []
    for h in HOSTS:
        for m in ("cpu", "mem"):
            tags = {"host": h, "env": "prod" if h in "ab" else "dev"}
            if h == "d":
                tags["rack"] = "r1"
            for i in range(40 * 12):  # 40 hours at 5-minute cadence
                out.append((m, tags, T0 + i * 300, float((i * 7) % 23)))
    # a duplicate timestamp with a different value
    out.append(("cpu", {"host": "a", "env": "prod"}, T0 + 600, 99.0))
    out.append(("cpu", None, T0, 1.0))  # a series with a null tags map
    return out


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("read") / "t")
    storage.write_points(with_identity(spark.createDataFrame(_rows(), INPUT_SCHEMA)), path)
    from sydradb_spark import manifest as mf

    assert len(mf.read_files(path)) == 40
    return path


@pytest.fixture(scope="module")
def http(spark, stored):
    """A server over the stored table. Each request runs under the job group
    its ``X-Test-Job-Group`` header names (the handler thread is not the
    test's, so the group is set inside it)."""
    sc = spark.sparkContext
    mp = pytest.MonkeyPatch()

    def grouped(orig):
        def verb(self):
            group = self.headers.get(GROUP_HEADER)
            if group:
                sc.setJobGroup(group, group, False)
            try:
                orig(self)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        return verb

    for verb in ("do_GET", "do_POST"):
        mp.setattr(server_mod._Handler, verb, grouped(getattr(server_mod._Handler, verb)))
    srv = SydraHttpServer(SydraQLEngine(spark, storage_path=stored), max_rows=500).start()
    yield srv
    srv.stop()
    mp.undo()


def _request(spark, srv, group: str, path: str, body: dict | None = None):
    """(status, decoded body, headers, Spark jobs the request ran)."""
    host, port = srv.addr
    req = urllib.request.Request(
        f"http://{host}:{port}{path}",
        data=None if body is None else json.dumps(body).encode(),
        headers={GROUP_HEADER: group},
        method="GET" if body is None else "POST",
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        out = (r.status, json.loads(r.read()), dict(r.headers))
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return (*out, len(sc.statusTracker().getJobIdsForGroup(group)))


def _range_path(series: str, tags: dict, start: int, end: int, extra: str = "") -> str:
    t = json.dumps(tags, separators=(",", ":"))
    return f"/api/v1/query/range?series={series}&tags={t}&start={start}&end={end}{extra}"


def _stored_range(spark, stored, series, tags, start, end) -> list[tuple]:
    df = storage.scan_range(
        spark, stored, series_id=series_id_literal(series, tags), start=start, end=end
    )
    return [(r["ts"], r["value"]) for r in df.orderBy("ts", "value").collect()]


def test_raw_range_runs_one_job(spark, stored, http):
    tags = {"host": "a", "env": "prod"}
    status, pts, hdrs, jobs = _request(
        spark, http, "range-raw", _range_path("cpu", tags, T0, T0 + 7199)
    )
    assert status == 200 and jobs == 1
    assert "X-Sydra-Truncated" not in hdrs
    want = _stored_range(spark, stored, "cpu", tags, T0, T0 + 7199)
    assert [(p["ts"], p["value"]) for p in pts] == want and len(want) == 25


def test_range_scan_filters_on_the_folded_series_id(spark, http, monkeypatch):
    frames = []
    real = server_mod._collect_range

    def spy(pts, limit):
        frames.append(pts)
        return real(pts, limit)

    monkeypatch.setattr(server_mod, "_collect_range", spy)
    tags = {"env": "dev", "host": "d", "rack": "r1"}
    status, _, _, _ = _request(
        spark, http, "range-plan", _range_path("mem", tags, T0 + 3600, T0 + 7199)
    )
    assert status == 200 and len(frames) == 1
    sid = http.series_id_for("mem", tags)
    plan = frames[0]._jdf.queryExecution().executedPlan().toString()
    assert f"EqualTo(series_id,{sid})" in plan  # PushedFilters
    assert re.search(rf"\(series_id#\d+L = {sid}\)", plan)  # DataFilters
    assert "PartitionFilters: [isnotnull(hour_bucket" in plan


def test_lttb_under_the_cap_runs_one_job(spark, stored, http):
    tags = {"host": "b", "env": "prod"}
    start, end = T0, T0 + 86_399
    status, pts, hdrs, jobs = _request(
        spark, http, "range-lttb", _range_path("cpu", tags, start, end, "&max_points=40")
    )
    assert status == 200 and jobs == 1 and len(pts) == 40
    assert "X-Sydra-Truncated" not in hdrs
    # the same picks as the pandas-UDF operator over the stored range
    df = storage.scan_range(
        spark, stored, series_id=series_id_literal("cpu", tags), start=start, end=end
    )
    want = sorted((r["ts"], r["value"]) for r in lttb(df, 40).collect())
    assert [(p["ts"], p["value"]) for p in pts] == want


@pytest.mark.parametrize("op", ["and", "or"])
def test_find_runs_at_most_two_jobs(spark, http, op):
    status, ids, _, jobs = _request(
        spark, http, f"find-{op}", "/api/v1/query/find",
        {"tags": {"env": "prod", "rack": "r1"}, "op": op},
    )
    assert status == 200 and jobs <= 2
    assert len(ids) == (0 if op == "and" else 6)
    assert ids == sorted(ids)


def test_find_series_matches_a_reference_over_fuzzed_tags(spark):
    """AND/OR semantics against a plain-Python reference: repeated keys,
    null maps, null values and missing keys."""
    rng = random.Random(7)
    keys, vals = ["k1", "k2", "k3", ""], ["x", "y", ""]
    rows = []
    for i in range(120):
        tags = None if i % 17 == 0 else {
            k: (None if rng.random() < 0.1 else rng.choice(vals))
            for k in rng.sample(keys, rng.randint(0, 3))
        }
        rows += [(f"s{i}", tags, T0 + j, 1.0) for j in range(2)]
    pts = with_identity(spark.createDataFrame(rows, INPUT_SCHEMA))
    catalog = {r["series_id"]: r["tags"] for r in tagindex.series_catalog(pts).collect()}
    for _ in range(12):
        match = [(rng.choice(keys), rng.choice(vals)) for _ in range(rng.randint(1, 3))]
        for mode in ("and", "or"):
            test = all if mode == "and" else any
            want = {
                sid for sid, tags in catalog.items()
                if test((tags or {}).get(k) == v for k, v in match)
            }
            found = tagindex.find_series(pts, match, mode=mode).collect()
            assert {r["series_id"] for r in found} == want
            assert len(found) == len(want)  # one row per series
            assert all(r["tags"] == catalog[r["series_id"]] for r in found)


def test_lttb_kernel_matches_the_pandas_udf_on_duplicate_timestamps(spark):
    rng = random.Random(3)
    rows = []
    for sid in range(1, 5):
        ts = T0
        for _ in range(300 + 40 * sid):
            ts += rng.choice([0, 0, 1, 10, 60])  # runs of equal timestamps
            rows.append((sid, ts, float(rng.choice([0, 1, 1, 2, 5, -3, 8]))))
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "series_id long, ts long, value double")
    for n_out in (3, 17, 64):
        udf = sorted(
            (r["series_id"], r["ts"], r["value"]) for r in lttb(df, n_out).collect()
        )
        kernel = []
        for sid in range(1, 5):
            # the route's input: a (ts, value)-ordered collect of one series
            sub = (
                df.where(F.col("series_id") == sid).orderBy("ts", "value").collect()
            )
            picks = lttb_indices(
                np.array([r["ts"] for r in sub]), [r["value"] for r in sub], n_out
            )
            kernel += [(sid, sub[i]["ts"], sub[i]["value"]) for i in picks]
        assert sorted(kernel) == udf and len(udf) == 4 * n_out


def _gauges(text: str) -> dict[str, float]:
    return {
        name: float(value)
        for name, value in (
            line.split() for line in text.splitlines() if line.startswith("sydra_storage_")
        )
    }


def test_metrics_storage_gauges_report_the_served_version(spark, tmp_path):
    import shutil

    from sydradb_spark import manifest as mf
    from sydradb_spark.model import driver_batch

    path = str(tmp_path / "t")
    rows = [("m", {"host": "a"}, T0 + i * 600, 1.0) for i in range(36)]  # 6 hours
    storage.write_points(with_identity(spark.createDataFrame(rows, INPUT_SCHEMA)), path)
    srv = SydraHttpServer(SydraQLEngine(spark, storage_path=path)).start()
    try:
        host, port = srv.addr

        def gauges():
            with urllib.request.urlopen(f"http://{host}:{port}/metrics", timeout=30) as r:
                return _gauges(r.read().decode())

        before = gauges()
        files = mf.read_files(path)
        assert before == {
            "sydra_storage_bytes": float(
                sum(os.path.getsize(os.path.join(path, f)) for f in files)
            ),
            "sydra_storage_files": 6.0,
            "sydra_storage_partitions": 6.0,
            "sydra_storage_version": float(mf.latest_version(path)),
        }
        # orphans no manifest version references: a stray copy in a live
        # hour and a file in an hour no version holds
        shutil.copy(os.path.join(path, files[0]), os.path.join(path, files[0] + ".orphan.parquet"))
        os.makedirs(os.path.join(path, "hour_bucket=0"))
        shutil.copy(os.path.join(path, files[0]), os.path.join(path, "hour_bucket=0", "x.parquet"))
        assert gauges() == before

        srv.engine.ingest_points(driver_batch(spark, [("m", {"host": "a"}, T0 + 6 * 3600, 2.0)]))
        after = gauges()
        assert after["sydra_storage_version"] == before["sydra_storage_version"] + 1
        assert (after["sydra_storage_files"], after["sydra_storage_partitions"]) == (7.0, 7.0)
    finally:
        srv.stop()
