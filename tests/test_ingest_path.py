"""The ingest path's table handling: zero-job opens and refreshes,
version-monotonic refresh under concurrent ingests, one-task batch writes,
the pinned file layout, and the maintenance guards on manifest metadata."""

from __future__ import annotations

import os
import random
import threading
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sydradb_spark import manifest as mf
from sydradb_spark import objectstore as obs
from sydradb_spark import storage
from sydradb_spark.model import INPUT_SCHEMA, driver_batch, with_identity
from sydradb_spark.storage import POINT_COLS
from sydradb_spark.sydraql.engine import SydraQLEngine

T0 = 1_704_067_200  # an hour boundary


def _rows(series: str, start: int, n: int, step: int = 60) -> list[tuple]:
    return [(series, {"host": "a"}, start + i * step, float(i)) for i in range(n)]


def _run_counting_jobs(spark, group: str, fn):
    """(fn's result, Spark jobs, tasks) for the jobs ``fn`` ran in this
    thread, counted through a job group and the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        for s in tracker.getJobInfo(j).stageIds:
            stage = tracker.getStageInfo(s)
            tasks += stage.numTasks if stage else 0
    return out, len(jobs), tasks


@pytest.fixture()
def wide_table(spark, tmp_path):
    """A manifested table with more files (40 hours) than Spark's default
    parallel-listing threshold of 32 paths."""
    path = str(tmp_path / "wide")
    rows = [r for s in ("m.a", "m.b", "m.c") for r in _rows(s, T0, 40 * 6, step=600)]
    storage.write_points(with_identity(spark.createDataFrame(rows, INPUT_SCHEMA)), path)
    assert len(mf.read_files(path)) == 40
    return path


# --- job counts -----------------------------------------------------------------
def test_open_refresh_and_batch_append_job_counts(spark, wide_table):
    engine, jobs, _ = _run_counting_jobs(
        spark, "open", lambda: SydraQLEngine(spark, storage_path=wide_table)
    )
    assert jobs == 0
    _, jobs, _ = _run_counting_jobs(
        spark, "refresh", lambda: storage.read_points(spark, wide_table)
    )
    assert jobs == 0
    batch = driver_batch(
        spark, [r for s in range(80) for r in _rows(f"n.{s}", T0 + 41 * 3600, 3)]
    )
    assert storage._one_partition(with_identity(batch))
    # the write is the ingest's only job: the refresh inside runs none
    _, jobs, tasks = _run_counting_jobs(
        spark, "ingest", lambda: engine.ingest_points(batch)
    )
    assert (jobs, tasks) == (1, 1)
    assert engine.points.count() == 3 * 240 + 240


# --- version-monotonic refresh ----------------------------------------------------
def test_concurrent_ingests_leave_engine_on_newest_version(spark, tmp_path, monkeypatch):
    """Ingest A's re-read resolves its version, then stalls until ingest B
    has written; an unlocked refresh would let A assign the OLDER frame
    after B assigned the newer one, hiding B's acknowledged points."""
    path = str(tmp_path / "race")
    storage.write_points(with_identity(driver_batch(spark, _rows("base", T0, 10))), path)
    engine = SydraQLEngine(spark, storage_path=path)
    batch_a = driver_batch(spark, _rows("a", T0 + 3600, 7))
    batch_b = driver_batch(spark, _rows("b", T0 + 7200, 5))
    real_read = storage.read_points
    a_read, b_done = threading.Event(), threading.Event()
    errors: list[BaseException] = []

    def read_points(*args, **kwargs):
        df = real_read(*args, **kwargs)
        if threading.current_thread().name == "ingest-a" and not a_read.is_set():
            a_read.set()
            # hold A's older frame until B acknowledged; with the refresh
            # lock B cannot refresh while A holds it, so this times out
            b_done.wait(timeout=5)
        return df

    def ingest_a():
        try:
            engine.ingest_points(batch_a)
        except Exception as exc:  # noqa: BLE001 — asserted below
            errors.append(exc)

    def ingest_b():
        try:
            assert a_read.wait(timeout=120)
            engine.ingest_points(batch_b)
        except Exception as exc:  # noqa: BLE001 — asserted below
            errors.append(exc)
        finally:
            b_done.set()

    monkeypatch.setattr(storage, "read_points", read_points)
    threads = [
        threading.Thread(target=ingest_a, name="ingest-a"),
        threading.Thread(target=ingest_b, name="ingest-b"),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert mf.latest_version(path) == 3
    for series, batch in (("base", _rows("base", T0, 10)), ("a", _rows("a", T0 + 3600, 7)),
                          ("b", _rows("b", T0 + 7200, 5))):
        got = engine.query(f"select time, value from {series} where time >= {T0}").df
        assert sorted((r[0], r[1]) for r in got.collect()) == [(ts, v) for _, _, ts, v in batch]


# --- one open helper --------------------------------------------------------------
def test_extra_column_reads_back_through_every_open(spark, points, tmp_path):
    path = str(tmp_path / "extras")
    seqd = points.withColumn("seq", F.col("ts") % 1000)
    storage.write_points(seqd, path)
    version = mf.latest_version(path)
    expected = sorted(seqd.collect())
    latest = storage.read_points(spark, path)
    pinned = storage.read_points(spark, path, version=version)
    engine = SydraQLEngine(spark, storage_path=path)
    engine.ingest_points(driver_batch(spark, [("new.s", {}, 9_000_000, 1.0)]))
    refreshed = engine.points
    for df in (latest, pinned, refreshed):
        assert df.columns == POINT_COLS + ["seq"]
        assert df.dtypes == latest.dtypes
    assert dict(latest.dtypes)["seq"] == "bigint"
    assert sorted(latest.collect()) == expected
    assert sorted(pinned.collect()) == expected
    assert sorted(refreshed.where("series != 'new.s'").collect()) == expected
    # a batch written without the column reads it back as null
    assert [r["seq"] for r in refreshed.where("series = 'new.s'").collect()] == [None]


# --- file layout ------------------------------------------------------------------
def test_write_points_sorts_files_one_per_hour(spark, tmp_path):
    """One write from a one-partition input and one from a multi-partition
    input, both spanning several hours: each writes one file per hour, and
    every file is sorted by (series_id, ts)."""
    rng = random.Random(11)
    one_rows = [r for s in range(6) for r in _rows(f"s.{s}", T0, 30, step=400)]
    many_rows = [r for s in range(6) for r in _rows(f"s.{s}", T0 + 5 * 3600, 40, step=350)]
    rng.shuffle(one_rows)
    rng.shuffle(many_rows)
    one = with_identity(driver_batch(spark, one_rows))
    many = with_identity(spark.createDataFrame(many_rows, INPUT_SCHEMA))
    assert storage._one_partition(one)
    assert not storage._one_partition(many)
    path = str(tmp_path / "layout")
    storage.write_points(one, path)
    storage.write_points(many, path, mode="append")
    v1 = set(mf.read_files(path, 1))
    v2 = set(mf.read_files(path, 2)) - v1
    for written, rows in ((v1, one_rows), (v2, many_rows)):
        hours = sorted(f.split("/", 1)[0] for f in written)
        assert hours == sorted({f"hour_bucket={ts // 3600 * 3600}" for _, _, ts, _ in rows})
        for f in written:
            t = pq.read_table(os.path.join(path, f), columns=["series_id", "ts"])
            keys = list(zip(t["series_id"].to_pylist(), t["ts"].to_pylist()))
            assert keys == sorted(keys), f
    assert storage.read_points(spark, path).count() == len(one_rows) + len(many_rows)


# --- maintenance guards -----------------------------------------------------------
def test_vacuum_points_refuses_an_empty_version_listing(spark, tmp_path, monkeypatch):
    store = obs.MemoryObjectStore()
    path = str(tmp_path / "tbl")
    storage.write_points(with_identity(driver_batch(spark, _rows("s", T0, 5))), path, store=store)
    files = mf.read_files(path, store=store)
    real_list = store.list
    monkeypatch.setattr(
        store, "list", lambda prefix: [] if "_manifest/v" in prefix else real_list(prefix)
    )
    with pytest.raises(RuntimeError, match="keep-set"):
        storage.vacuum_points(path, store, keep_versions=1, min_age_seconds=0)
    assert all((Path(path) / f).exists() for f in files)


def test_manifest_vacuum_refuses_a_missing_version_listing(spark, tmp_path):
    path = str(tmp_path / "tbl")
    storage.write_points(with_identity(driver_batch(spark, _rows("s", T0, 5))), path)
    files = mf.read_files(path)
    mdir = Path(path) / mf.MANIFEST_DIR
    for v in mdir.glob("v*.json"):
        v.rename(mdir / f"moved-{v.name}")  # LATEST stays, listing is empty
    with pytest.raises(RuntimeError, match="keep-set"):
        storage.vacuum_points(path, min_age_seconds=0)
    assert all((Path(path) / f).exists() for f in files)


@pytest.mark.parametrize("backend", ["local", "store"])
def test_snapshot_pins_one_version_for_files_and_ledger(spark, tmp_path, monkeypatch, backend):
    """A commit landing between the snapshot's file-list read and its ledger
    read must not pair version N's files with version N+1's ledger."""
    store = None if backend == "local" else obs.MemoryObjectStore()
    path = str(tmp_path / "src")
    batch = with_identity(driver_batch(spark, _rows("s", T0, 5)))
    storage.write_points(batch, path, store=store, txn=("app", 1))
    pinned_files = sorted(mf.read_files(path, store=store))
    real_files = mf.read_files

    def files_then_commit(p, version=None, **kw):
        out = real_files(p, version, **kw)
        if p == path:
            mf.commit(p, mutate=lambda old: old, txn=("app", 2), store=store)
        return out

    monkeypatch.setattr(mf, "read_files", files_then_commit)
    dest = str(tmp_path / "snap")
    storage.snapshot(path, dest, store=store)
    assert sorted(mf.read_files(dest)) == pinned_files
    assert mf.read_ledger(dest) == {"app": 1}
    ledger = mf.read_ledger(path, store=store)
    assert ledger == {"app": 2}  # the commit did land in between
