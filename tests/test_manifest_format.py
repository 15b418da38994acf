"""The on-disk manifest format is pinned, and a plain directory is adopted
on its first mutation: an append, a DELETE, a partition drop, or a restore
onto it; a snapshot of it commits a manifest at the destination only.

The manifest documents below are written literally, byte for byte as
earlier releases wrote them — ``<table>/_manifest/v1.json`` + ``LATEST``
for a POSIX table, ``points/_manifest/v1.json`` + ``LATEST`` in a
caller-supplied store — so a change to the key layout or the document
keys fails here rather than on a deployed table.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from sydradb_spark import manifest as mf
from sydradb_spark import objectstore as obs
from sydradb_spark import storage
from sydradb_spark.model import driver_batch, with_identity

T0 = 1_700_000_000 // 3600 * 3600


def _batch(spark, series: str, n: int, start: int = T0):
    rows = [(series, {"host": "a"}, start + 60 * i, float(i)) for i in range(n)]
    return with_identity(driver_batch(spark, rows))


def _plain_table(spark, path: Path, n: int) -> list[str]:
    """A table as Spark writes it with no manifest; its relative files."""
    _batch(spark, "s.old", n).select(*storage.POINT_COLS).write.partitionBy(
        "hour_bucket"
    ).parquet(str(path))
    return sorted(str(f.relative_to(path)) for f in path.glob("hour_bucket=*/*.parquet"))


@pytest.mark.parametrize("backend", ["posix", "store"])
def test_earlier_release_manifest_reads_appends_and_writes_the_same_doc(
    spark, tmp_path, backend
):
    path = tmp_path / "t"
    files = _plain_table(spark, path, 5)
    doc = json.dumps({"version": 1, "files": files, "txn": {"app": 3}})
    if backend == "posix":
        store, mdir = None, path / "_manifest"
        mdir.mkdir()
        (mdir / "v1.json").write_text(doc)
        (mdir / "LATEST").write_text("1")

        def raw(name):
            return (mdir / name).read_bytes()
    else:
        store = obs.MemoryObjectStore()
        store.put("points/_manifest/v1.json", doc.encode())
        store.put("points/_manifest/LATEST", b"1")

        def raw(name):
            return store.get(f"points/_manifest/{name}")

    assert storage.table_version(str(path), store=store) == 1
    assert mf.read_files(str(path), store=store) == files
    assert mf.read_txn(str(path), "app", store=store) == 3
    assert storage.read_points(spark, str(path), store=store).count() == 5

    storage.write_points(_batch(spark, "s.new", 4), str(path), mode="append", store=store)
    v2 = json.loads(raw("v2.json"))
    assert list(v2) == ["version", "files", "txn"]
    assert v2["version"] == 2 and v2["txn"] == {"app": 3}
    assert v2["files"] == sorted(v2["files"]) and set(files) < set(v2["files"])
    assert raw("LATEST") == b"2"
    assert storage.read_points(spark, str(path), store=store).count() == 9


def test_a_doc_without_a_ledger_keeps_its_two_keys(tmp_path):
    path = str(tmp_path / "t")
    mf.commit(path, ["hour_bucket=0/b.parquet", "hour_bucket=0/a.parquet"])
    doc = (tmp_path / "t" / "_manifest" / "v1.json").read_text()
    assert doc == '{"version": 1, "files": ["hour_bucket=0/a.parquet", "hour_bucket=0/b.parquet"]}'


def test_reads_of_a_missing_table_create_nothing(spark, tmp_path):
    path = tmp_path / "missing"
    assert storage.table_version(str(path)) is None
    assert mf.latest_version(str(path)) is None
    with pytest.raises(Exception):
        storage.read_points(spark, str(path)).count()  # no table to read
    assert not path.exists()


def test_append_adopts_a_plain_directory(spark, tmp_path):
    """An append to a table written without a manifest commits the files
    already there plus the new ones, so the table's rows are old + new."""
    path = tmp_path / "plain"
    old = _plain_table(spark, path, 6)
    assert not mf.has_manifest(str(path))
    storage.write_points(_batch(spark, "s.new", 4, T0 + 7200), str(path), mode="append")
    files = mf.read_files(str(path))
    assert mf.latest_version(str(path)) == 1
    assert set(old) < set(files) and len(files) == len(old) + 1  # one new hour
    assert storage.read_points(spark, str(path)).count() == 6 + 4


def _rows(spark, path, store=None) -> list[tuple[int, float]]:
    df = storage.read_points(spark, str(path), store=store)
    return sorted((r["ts"], r["value"]) for r in df.select("ts", "value").collect())


def _reference(n: int) -> list[tuple[int, float]]:
    """The rows ``_plain_table(spark, path, n)`` writes, in Python."""
    return [(T0 + 60 * i, float(i)) for i in range(n)]


def test_delete_where_adopts_a_plain_directory(spark, tmp_path):
    path = tmp_path / "plain"
    _plain_table(spark, path, 150)  # 2.5 hours: three partitions
    storage.delete_where(
        spark, str(path), F.col("value") >= 100.0, ts_min=T0, ts_max=T0 + 10800
    )
    assert mf.has_manifest(str(path))
    assert _rows(spark, path) == [r for r in _reference(150) if r[1] < 100.0]


def test_drop_expired_partitions_adopts_a_plain_directory(tmp_path, spark):
    path = tmp_path / "plain"
    files = _plain_table(spark, path, 150)
    dropped = storage.drop_expired_partitions(str(path), T0 + 7200)
    assert dropped == [T0, T0 + 3600]
    assert mf.has_manifest(str(path))
    assert _rows(spark, path) == [r for r in _reference(150) if r[0] >= T0 + 7200]
    # a manifest commit, not a removal: the files wait for vacuum
    on_disk = path.glob("hour_bucket=*/*.parquet")
    assert sorted(str(f.relative_to(path)) for f in on_disk) == files


def test_snapshot_and_restore_adopt_plain_directories(spark, tmp_path):
    path, snap, other = tmp_path / "plain", tmp_path / "snap", tmp_path / "other"
    files = _plain_table(spark, path, 150)
    storage.snapshot(str(path), str(snap))
    assert not mf.has_manifest(str(path))  # the source is left as it was
    assert mf.read_files(str(snap)) == files and mf.read_ledger(str(snap)) == {}
    assert _rows(spark, snap) == _reference(150)
    # mutate the live table, then restore it from the snapshot
    storage.delete_where(spark, str(path), F.col("value") >= 0.0)
    assert _rows(spark, path) == []
    storage.restore(str(snap), str(path))
    assert _rows(spark, path) == _reference(150)
    # restoring onto another plain table adopts it by the same commit
    _plain_table(spark, other, 3)
    storage.restore(str(snap), str(other))
    assert mf.read_files(str(other)) == files
    assert _rows(spark, other) == _reference(150)


@pytest.mark.parametrize("backend", ["posix", "store"])
def test_restore_refuses_a_snapshot_without_a_manifest(spark, tmp_path, backend):
    store = obs.MemoryObjectStore() if backend == "store" else None
    live, snap = tmp_path / "live", tmp_path / "snap"
    storage.write_points(_batch(spark, "s.live", 4), str(live), store=store)
    _plain_table(spark, snap, 5)
    with pytest.raises(ValueError, match="init_points_table"):
        storage.restore(str(snap), str(live), store=store)
    assert storage.read_points(spark, str(live), store=store).count() == 4
    assert mf.latest_version(str(live), store=store) == 1
