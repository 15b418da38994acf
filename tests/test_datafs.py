"""The one data-file layer (``sydradb_spark.datafs``): every listing,
publish, delete and vacuum of data files is written once, and runs on a
``LocalFS`` (stdlib) or a ``HadoopFS`` (py4j) picked by the table
location. The Hadoop side is exercised on a real ``file://`` table with
``datafs.local_path`` patched to route it to Hadoop, so both backends act
on the same bytes and must leave the same disk state."""

from __future__ import annotations

import os
import time

import pytest

from sydradb_spark import datafs
from sydradb_spark import manifest as mf
from sydradb_spark import objectstore as obs
from sydradb_spark import storage


def _pts(spark, rows):
    """rows: (series, ts, value)"""
    return spark.createDataFrame(
        rows, "series string, ts long, value double"
    ).selectExpr(
        "xxhash64(series) as series_id", "series",
        "map() as tags", "ts", "value",
        "cast(floor(ts/3600)*3600 as long) as hour_bucket",
    )


def _disk(root) -> list[str]:
    return sorted(str(p.relative_to(root)) for p in root.rglob("*"))


def _crc(rel: str) -> str:
    d, name = rel.rsplit("/", 1)
    return f"{d}/.{name}.crc"


@pytest.fixture(params=["local", "hadoop"])
def fs_kind(request, monkeypatch):
    """``local``: file:// triages to LocalFS. ``hadoop``: file:// routes to
    HadoopFS over Hadoop's local (checksum) filesystem."""
    if request.param == "hadoop":
        real = datafs.local_path
        monkeypatch.setattr(
            datafs, "local_path", lambda p: None if p.startswith("file://") else real(p)
        )
    return request.param


def test_vacuum_and_adoption_same_on_both_backends(spark, tmp_path, fs_kind):
    """Two versions, then a crashed ``.staging-*`` tree, an unreferenced
    part file and a partition holding only hidden files: the vacuum's one
    data pass removes the same files and leaves the same disk on both
    backends, and adoption of a plain directory commits the same listing."""
    tbl = tmp_path / "tbl"
    uri = f"file://{tbl}"
    assert isinstance(
        datafs.open_fs(uri, spark),
        datafs.HadoopFS if fs_kind == "hadoop" else datafs.LocalFS,
    )
    store = obs.LocalFSObjectStore(str(tmp_path / "store"))
    storage.write_points(_pts(spark, [("s.a", 100, 1.0)]), uri, store=store)
    storage.write_points(_pts(spark, [("s.a", 200, 2.0)]), uri, store=store)
    v1, v2 = (mf.read_files(uri, v, store=store) for v in (1, 2))
    assert len(v1) == len(v2) == 1 and v1 != v2  # both in hour_bucket=0

    old = time.time() - 3600
    stage = tbl / ".staging-0123abcd" / "hour_bucket=0"
    stage.mkdir(parents=True)
    (stage / "part-crashed.parquet").write_bytes(b"x")
    orphan = "hour_bucket=0/part-orphan.parquet"
    (tbl / orphan).write_bytes((tbl / v2[0]).read_bytes())
    hidden = tbl / "hour_bucket=7200"
    hidden.mkdir()
    (hidden / ".leftover").write_text("x")
    for p in [*tbl.rglob("*"), *tbl.glob(".staging-*")]:
        os.utime(p, (old, old))

    removed = storage.vacuum_points(
        uri, store, keep_versions=1, min_age_seconds=0, spark=spark
    )
    assert removed == sorted(v1 + [orphan])
    assert _disk(tbl) == sorted(["hour_bucket=0", v2[0], _crc(v2[0])])
    assert storage.read_points(spark, uri, store=store).collect()[0]["value"] == 2.0

    # adoption of a plain Spark-written directory: the listing skips
    # _SUCCESS, checksums and hidden names on both backends
    plain = tmp_path / "plain"
    _pts(spark, [("s.a", 100, 1.0), ("s.a", 3700, 2.0)]).write.partitionBy(
        "hour_bucket"
    ).parquet(str(plain))
    (plain / "hour_bucket=0" / ".hidden.parquet").write_bytes(b"x")
    from sydradb_spark.ingest import init_points_table

    pstore = obs.LocalFSObjectStore(str(tmp_path / "pstore"))
    init_points_table(spark, f"file://{plain}", store=pstore)
    want = sorted(
        str(p.relative_to(plain))
        for p in plain.glob("hour_bucket=*/part-*.parquet")
    )
    assert len(want) == 2
    assert mf.read_files(f"file://{plain}", store=pstore) == want


def test_local_tables_never_reach_hadoop(spark, tmp_path, monkeypatch):
    """A write, a points vacuum, a rollup write and fold, and a rollup
    vacuum on local tables run on LocalFS only: no py4j FileSystem call."""
    from sydradb_spark.rollup import build_rollup
    from sydradb_spark.streaming.rollup_stream import (
        compact_rollup,
        read_rollup,
        vacuum_rollup,
        write_rollup_batch,
    )

    def no_hadoop(*_a, **_k):
        raise AssertionError("a local table reached the Hadoop FileSystem API")

    monkeypatch.setattr(datafs, "hadoop_fs", no_hadoop)
    tbl = str(tmp_path / "tbl")
    storage.write_points(_pts(spark, [("s.a", 100, 1.0)]), tbl)
    storage.write_points(_pts(spark, [("s.a", 200, 2.0)]), tbl, mode="append")
    storage.write_points(_pts(spark, [("s.a", 300, 3.0)]), tbl)
    assert len(storage.vacuum_points(tbl, keep_versions=1, min_age_seconds=0, spark=spark)) == 2

    roll = str(tmp_path / "roll")
    partial = build_rollup(_pts(spark, [("s.a", 100, 1.0)]), step_s=3600)
    for b in range(3):
        write_rollup_batch(partial, roll, b, "stream-x")
    assert compact_rollup(spark, roll, 3600) is not None
    removed = vacuum_rollup(roll, keep_versions=1, min_age_seconds=0, spark=spark)
    assert removed == ["b_stream-x_000000000000", "b_stream-x_000000000001"]
    assert read_rollup(spark, roll, 3600).collect()[0]["cnt"] == 3

