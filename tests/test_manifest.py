"""Manifest-committed storage: atomic version flips, crash safety, time
travel, vacuum (reference MANIFEST swap, src/sydra/storage/manifest.zig)."""

from __future__ import annotations

import pytest

from sydradb_spark import manifest as mf
from sydradb_spark import objectstore as obs
from sydradb_spark import storage
from sydradb_spark.sydraql.engine import SydraQLEngine


@pytest.fixture()
def table(tmp_path, points):
    path = str(tmp_path / "t")
    storage.write_points(points, path)
    return path


def test_write_creates_manifest_and_roundtrips(spark, points, table):
    assert mf.has_manifest(table)
    assert mf.latest_version(table) == 1
    assert storage.read_points(spark, table).count() == points.count()


def test_append_extends_manifest(spark, points, table):
    extra = points.limit(7)
    storage.write_points(extra, table, mode="append")
    assert mf.latest_version(table) == 2
    assert storage.read_points(spark, table).count() == points.count() + 7


def test_delete_commits_atomically_with_time_travel(spark, points, table):
    n0 = storage.read_points(spark, table).count()
    eng = SydraQLEngine(spark, storage_path=table)
    eng.query("delete from cpu.total where time >= 0 and time < 2000000")
    v = mf.latest_version(table)
    assert v == 2
    after = storage.read_points(spark, table)
    assert after.where("series = 'cpu.total'").count() == 0
    n_after = after.count()
    assert 0 < n_after < n0
    # previous version still fully readable (old files retained until vacuum)
    assert storage.read_points(spark, table, version=1).count() == n0


def test_crash_before_commit_preserves_old_version(spark, points, table):
    """Staged data files without a manifest commit are invisible: readers
    stay on LATEST. (Simulates a crash after file writes, before the
    pointer rename.)"""
    n0 = storage.read_points(spark, table).count()
    extra = points.limit(5)
    # stage files the way an append would, but "crash" before commit:
    (
        extra.select(*storage.POINT_COLS)
        .write.partitionBy("hour_bucket")
        .mode("append")
        .parquet(table)
    )
    assert storage.read_points(spark, table).count() == n0  # unchanged
    # the next real commit simply ignores the orphaned files; vacuum reaps
    assert len(storage.data_files(table)) > len(mf.read_files(table))
    removed = storage.vacuum_points(table, keep_versions=1, min_age_seconds=0)
    assert removed
    assert storage.read_points(spark, table).count() == n0


def test_vacuum_keeps_recent_versions(spark, points, table):
    eng = SydraQLEngine(spark, storage_path=table)
    eng.query("delete from cpu.total where time >= 0 and time < 2000000")
    eng.query("delete from weather.room2 where time >= 0 and time < 2000000")
    assert mf.latest_version(table) == 3
    storage.vacuum_points(table, keep_versions=2, min_age_seconds=0)
    # latest and latest-1 remain readable; v1's exclusive files are gone
    for v in (2, 3):
        files = mf.read_files(table, version=v)
        assert all((__import__("pathlib").Path(table) / f).exists() for f in files)
    with pytest.raises(FileNotFoundError):
        mf.read_files(table, version=1)


def test_plain_table_fallback(spark, points, tmp_path):
    """Tables written without a manifest keep plain directory semantics."""
    path = str(tmp_path / "plain")
    (
        points.select(*storage.POINT_COLS)
        .write.partitionBy("hour_bucket")
        .parquet(path)
    )
    assert not mf.has_manifest(path)
    assert storage.read_points(spark, path).count() == points.count()


def test_snapshot_is_metadata_only_and_isolated(spark, points, table):
    """Manifest snapshot hardlinks data files (no byte copy) and stays
    readable after the live table mutates and vacuums."""
    import os
    from pathlib import Path

    dest = str(Path(table).parent / "snap")
    storage.snapshot(table, dest)
    f = next(Path(dest).glob("hour_bucket=*/*.parquet"))
    assert os.stat(f).st_nlink >= 2  # hardlink, not a copy
    n0 = storage.read_points(spark, dest).count()

    eng = SydraQLEngine(spark, storage_path=table)
    eng.query("delete from cpu.total where time >= 0 and time < 2000000")
    storage.vacuum_points(table, keep_versions=1, min_age_seconds=0)
    # live table changed; the snapshot still reads the original rows
    assert storage.read_points(spark, dest).count() == n0
    assert storage.read_points(spark, table).count() < n0


def test_commit_mutate_merges_under_lock(tmp_path):
    """Concurrent appenders commit via mutate= so the read-modify-write of
    the file list happens inside the CAS loop: no writer's files are dropped
    from LATEST (the lost-append race ADVICE flagged). With the pre-fix
    pattern (read_files() outside the commit, then commit(files))
    interleaved appenders routinely lose each other's files. No lock: the
    16 CAS retries absorb the contention of two unsynchronized appenders."""
    import threading

    path = str(tmp_path / "mut")
    mf.commit(path, ["hour_bucket=0/base.parquet"])
    start = threading.Barrier(2)
    errors: list[Exception] = []

    def appender(name: str):
        try:
            start.wait(timeout=10)
            for i in range(10):
                rel = f"hour_bucket=0/{name}{i}.parquet"
                mf.commit(path, mutate=lambda old, r=rel: old + [r])
        except Exception as e:  # surfaced below — don't swallow in a thread
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(n,)) for n in "ab"]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not errors
    files = set(mf.read_files(path))
    assert len(files) == 21  # base + 10 per appender — none lost
    assert mf.latest_version(path) == 21


def test_commit_requires_exactly_one_form(tmp_path):
    path = str(tmp_path / "forms")
    with pytest.raises(ValueError):
        mf.commit(path)
    with pytest.raises(ValueError):
        mf.commit(path, ["f"], mutate=lambda old: old)


def test_vacuum_age_window_protects_live_readers(spark, points, table):
    """Default-configured vacuum refuses to reap versions (and staged files)
    younger than the retention window, so a concurrent time-travel reader
    on version N-1 — and an appender that staged files but hasn't committed
    yet — both survive."""
    eng = SydraQLEngine(spark, storage_path=table)
    eng.query("delete from cpu.total where time >= 0 and time < 2000000")
    eng.query("delete from weather.room2 where time >= 0 and time < 2000000")
    assert mf.latest_version(table) == 3
    n1 = storage.read_points(spark, table, version=1).count()
    removed = storage.vacuum_points(table, keep_versions=1)  # default min_age_seconds
    assert removed == []
    # every version is still fully readable, not just the kept ones
    for v in (1, 2, 3):
        assert storage.read_points(spark, table, version=v).count() > 0
    assert storage.read_points(spark, table, version=1).count() == n1


def test_delete_preserves_extra_columns(spark, points, tmp_path):
    """Manifest-path DELETE rewrites affected partitions with ALL columns —
    an extra ingest-order column (seq) survives the rewrite instead of
    producing mixed file schemas (ADVICE regression)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "extras")
    storage.write_points(points.withColumn("seq", F.col("ts") % 1000), path)
    before = storage.read_points(spark, path)
    assert "seq" in before.columns
    storage.delete_where(
        spark,
        path,
        F.col("series") == "cpu.total",
        ts_min=0,
        ts_max=2_000_000,
    )
    after = storage.read_points(spark, path)
    assert "seq" in after.columns
    assert after.where(F.col("seq").isNull()).count() == 0
    assert after.where("series = 'cpu.total'").count() == 0


def test_optimize_preserves_extra_columns(spark, points, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "optextras")
    seqd = points.withColumn("seq", F.col("ts") % 1000)
    for i in range(3):
        storage.write_points(seqd, path, mode="append" if i else "overwrite")
    optimized = storage.optimize_partitions(spark, path, max_files_per_partition=2)
    assert optimized
    after = storage.read_points(spark, path)
    assert "seq" in after.columns
    assert after.where(F.col("seq").isNull()).count() == 0
    assert after.count() == points.count() * 3


def test_optimize_partitions_merges_small_files(spark, points, tmp_path):
    """Streaming-append shape: several small appends per partition →
    optimize rewrites only oversized partitions, atomically, same rows."""
    path = str(tmp_path / "opt")
    for i in range(3):  # one file per partition per append
        storage.write_points(points, path, mode="append" if i else "overwrite")
    n0 = storage.read_points(spark, path).count()
    files_before = mf.read_files(path)
    per_part = {}
    for f in files_before:
        b = f.split("=", 1)[1].split("/", 1)[0]
        per_part[b] = per_part.get(b, 0) + 1
    assert max(per_part.values()) >= 3

    optimized = storage.optimize_partitions(spark, path, max_files_per_partition=2)
    assert optimized
    files_after = mf.read_files(path)
    per_part_after = {}
    for f in files_after:
        b = int(f.split("=", 1)[1].split("/", 1)[0])
        per_part_after[b] = per_part_after.get(b, 0) + 1
    assert all(per_part_after[b] == 1 for b in optimized)
    assert storage.read_points(spark, path).count() == n0
    # old small files reaped by vacuum, rows unchanged
    storage.vacuum_points(path, keep_versions=1, min_age_seconds=0)
    assert storage.read_points(spark, path).count() == n0


# ---------------------------------------------------------------------------
# The protocol on every backend: a POSIX table (the manifest in its own
# directory), a separate LocalFSObjectStore and a MemoryObjectStore (the
# object-store shape) run each test body through the same functions.
# ---------------------------------------------------------------------------

BACKENDS = ("posix", "localfs", "memory")
OBJECT_STORES = ("localfs", "memory")


def _backend(name: str, tmp_path) -> tuple[str, object]:
    """(table path, store) of an empty table on backend ``name``."""
    root = tmp_path / name
    store = {
        "posix": lambda: None,
        "localfs": lambda: obs.LocalFSObjectStore(str(root / "store")),
        "memory": obs.MemoryObjectStore,
    }[name]()
    return str(root / "t"), store


@pytest.mark.parametrize("make_store", BACKENDS)
def test_objectstore_concurrent_committers_no_lost_appends(tmp_path, make_store):
    """Multi-host commits (VERDICT r05 item 8): the commit is lockless on
    every backend. A barrier forces both committers to read the SAME base
    version each round, so both race for v+1; exactly one wins the
    conditional put (exclusive link on POSIX), the loser re-reads and
    retries against the fresh list. No append is lost and every version
    number is won exactly once."""
    import threading

    path, store = _backend(make_store, tmp_path)
    mf.commit(path, ["hour_bucket=0/base.parquet"], store=store)
    collide = threading.Barrier(2)
    errors: list[Exception] = []

    def appender(name: str):
        try:
            for i in range(5):
                rel = f"hour_bucket=0/{name}{i}.parquet"

                def merge(old, r=rel):
                    try:
                        # force the first attempt of each round to collide;
                        # retries (second call) pass through immediately
                        collide.wait(timeout=5)
                    except threading.BrokenBarrierError:
                        pass
                    return old + [r]

                mf.commit(path, mutate=merge, store=store)
        except Exception as e:  # surfaced below — don't swallow in a thread
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(n,)) for n in "ab"]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    collide.abort()
    assert not errors
    files = set(mf.read_files(path, store=store))
    assert len(files) == 11  # base + 5 per committer — none lost
    assert mf.latest_version(path, store=store) == 11
    # every version exists exactly once, 1..11 with no gaps
    assert sorted(mf._versions(*mf._at(path, store))) == list(range(1, 12))
    if make_store == "memory":
        # the race actually happened: at least one conditional PUT lost
        assert store.cas_losses >= 1


def _check_stale_pointer(tmp_path, backends):
    for name in backends:
        path, store = _backend(name, tmp_path)
        st, pre = mf._at(path, store)
        mf.commit(path, ["hour_bucket=0/a.parquet"], store=store)
        mf.commit(path, mutate=lambda old: old + ["hour_bucket=0/b.parquet"], store=store)
        st.put(pre + "LATEST", b"1")  # the crash window: pointer regressed
        assert mf.latest_version(path, store=store) == 2, name
        assert "hour_bucket=0/b.parquet" in mf.read_files(path, store=store), name
        mf.commit(path, mutate=lambda old: old + ["hour_bucket=0/c.parquet"], store=store)
        assert st.get(pre + "LATEST") == b"3", name


def test_latest_version_survives_stale_pointer(tmp_path):
    """A committed-but-unpointed version (crash or concurrent committer
    between the CAS and the pointer advance) is still visible: readers take
    max(pointer hint, listed versions), and the next commit repairs the
    pointer."""
    _check_stale_pointer(tmp_path, ["posix"])


def test_objectstore_stale_pointer_harmless(tmp_path):
    """The same on the object-store backends: a regressed LATEST hint never
    decides correctness, the listing does."""
    _check_stale_pointer(tmp_path, OBJECT_STORES)


def test_latest_version_survives_corrupt_pointer(tmp_path):
    """r13 review: a truncated/empty LATEST hint must not brick the table —
    the listed versions are the source of truth."""
    for name in BACKENDS:
        path, store = _backend(name, tmp_path)
        st, pre = mf._at(path, store)
        mf.commit(path, ["f0"], store=store)
        mf.commit(path, ["f0", "f1"], store=store)
        st.put(pre + "LATEST", b"")  # corrupt
        assert mf.latest_version(path, store=store) == 2, name
        assert mf.read_files(path, store=store) == ["f0", "f1"], name
        assert mf.commit(path, mutate=lambda old: old + ["f2"], store=store) == 3, name


def test_objectstore_crashed_committer_visible(tmp_path):
    """A committer that died between the conditional put and the pointer
    advance left a committed-but-unpointed version — readers still see it."""
    import json as _json

    for name in BACKENDS:
        path, store = _backend(name, tmp_path)
        st, pre = mf._at(path, store)
        mf.commit(path, ["a.parquet"], store=store)
        doc = {"version": 2, "files": ["a.parquet", "b.parquet"]}
        assert st.put_if_absent(pre + "v2.json", _json.dumps(doc).encode()), name
        assert mf.latest_version(path, store=store) == 2, name
        assert "b.parquet" in mf.read_files(path, store=store), name


def _store_roundtrip(store, path="unused"):
    assert mf.latest_version(path, store=store, key="tbl") is None
    v1 = mf.commit(path, ["hour_bucket=0/a.parquet"], store=store, key="tbl")
    assert v1 == 1
    v2 = mf.commit(
        path, mutate=lambda old: old + ["hour_bucket=1/b.parquet"], store=store, key="tbl"
    )
    assert v2 == 2
    assert mf.latest_version(path, store=store, key="tbl") == 2
    assert mf.read_files(path, store=store, key="tbl") == [
        "hour_bucket=0/a.parquet",
        "hour_bucket=1/b.parquet",
    ]
    # time travel to v1 still works
    assert mf.read_files(path, 1, store=store, key="tbl") == ["hour_bucket=0/a.parquet"]
    assert store.get("tbl/_manifest/LATEST") == b"2"  # the store key layout
    with pytest.raises(ValueError):
        mf.commit(path, store=store, key="tbl")  # neither files nor mutate
    with pytest.raises(ValueError):
        mf.commit(path, ["x"], mutate=lambda o: o, store=store, key="tbl")  # both


def test_objectstore_commit_roundtrip_memory():
    _store_roundtrip(obs.MemoryObjectStore())


def test_objectstore_commit_roundtrip_localfs(tmp_path):
    _store_roundtrip(obs.LocalFSObjectStore(str(tmp_path / "store")))


def test_localfs_store_key_escape_rejected(tmp_path):
    store = obs.LocalFSObjectStore(str(tmp_path / "store"))
    with pytest.raises(ValueError):
        store.put("../outside", b"x")


# --- txn-ledgered idempotent commits (streaming exactly-once replay guard,
# --- reference WAL replay-above-highwater cutoff engine.zig:406-437) -------


def _check_txn_replay(tmp_path, backends):
    for name in backends:
        path, store = _backend(name, tmp_path)
        assert mf.commit(path, ["a.parquet"], txn=("app", 0), store=store) == 1, name
        assert mf.read_txn(path, "app", store=store) == 0, name
        # replaying the same txn commits nothing and bumps no version
        dup = mf.commit(path, mutate=lambda old: old + ["dup"], txn=("app", 0), store=store)
        assert dup is None, name
        assert mf.latest_version(path, store=store) == 1, name
        assert mf.read_files(path, store=store) == ["a.parquet"], name
        # the NEXT txn goes through and the ledger advances
        nxt = mf.commit(path, mutate=lambda old: old + ["b"], txn=("app", 1), store=store)
        assert nxt == 2, name
        assert mf.read_txn(path, "app", store=store) == 1, name
        assert mf.read_files(path, store=store) == ["a.parquet", "b"], name
        # a LOWER txn version is also rejected (replay of an older batch)
        old = mf.commit(path, mutate=lambda old: old + ["c"], txn=("app", 0), store=store)
        assert old is None, name
        # untxn'd commits carry the ledger forward
        assert mf.commit(path, mutate=lambda old: old + ["c"], store=store) == 3, name
        assert mf.read_txn(path, "app", store=store) == 1, name


def test_commit_txn_replay_is_noop(tmp_path):
    _check_txn_replay(tmp_path, ["posix"])


def test_objectstore_commit_txn_replay_is_noop(tmp_path):
    _check_txn_replay(tmp_path, OBJECT_STORES)


def test_commit_txn_ledger_is_per_app(tmp_path):
    path = str(tmp_path / "t")
    mf.commit(path, ["a"], txn=("app1", 5))
    # a different app_id with the same txn version is independent
    assert mf.commit(path, mutate=lambda old: old + ["b"], txn=("app2", 5)) == 2
    assert mf.read_txn(path, "app1") == 5 and mf.read_txn(path, "app2") == 5
    # untxn'd commits carry the ledger forward untouched
    assert mf.commit(path, mutate=lambda old: old + ["c"]) == 3
    assert mf.read_txn(path, "app1") == 5


def test_write_points_txn_replay_skips_append(spark, points, table):
    n = points.count()
    storage.write_points(points.limit(3), table, mode="append", txn=("ck", 0))
    assert storage.read_points(spark, table).count() == n + 3
    v = mf.latest_version(table)
    # replaying batch 0 is a complete no-op: no new version, no new rows
    storage.write_points(points.limit(3), table, mode="append", txn=("ck", 0))
    assert mf.latest_version(table) == v
    assert storage.read_points(spark, table).count() == n + 3
    # batch 1 proceeds normally
    storage.write_points(points.limit(2), table, mode="append", txn=("ck", 1))
    assert storage.read_points(spark, table).count() == n + 5


def test_write_points_txn_orphan_after_commit_crash(spark, points, table, monkeypatch):
    """Crash BETWEEN the parquet write and the manifest commit: the retry
    stages fresh files; the first attempt's files stay on disk as manifest-
    orphans but LATEST never references them — no duplicate rows."""
    n = points.count()
    real_commit = mf.commit
    calls = {"n": 0}

    def crashing_commit(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash before manifest commit")
        return real_commit(*a, **kw)

    monkeypatch.setattr(mf, "commit", crashing_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        storage.write_points(points.limit(3), table, mode="append", txn=("ck", 0))
    # durable state unchanged; staged files are unreferenced orphans
    assert storage.read_points(spark, table).count() == n
    assert len(storage.data_files(table)) > len(mf.read_files(table))
    # the replayed batch commits exactly once
    storage.write_points(points.limit(3), table, mode="append", txn=("ck", 0))
    assert storage.read_points(spark, table).count() == n + 3
    # vacuum reclaims the first attempt's orphans
    removed = storage.vacuum_points(table, keep_versions=99, min_age_seconds=0)
    assert removed
    assert storage.read_points(spark, table).count() == n + 3


def _check_version_prune(tmp_path, backends):
    for name in backends:
        path, store = _backend(name, tmp_path)
        for i in range(5):
            mf.commit(path, mutate=lambda old, i=i: old + [f"f{i}.parquet"], store=store)
        keep = mf.prune_versions(path, keep_versions=2, min_age_seconds=0, store=store)
        assert keep == {f"f{i}.parquet" for i in range(5)}, name
        assert sorted(mf._versions(*mf._at(path, store))) == [4, 5], name
        assert mf.latest_version(path, store=store) == 5, name
        with pytest.raises(FileNotFoundError):
            mf.read_files(path, 1, store=store)  # vacuumed past the reader horizon
        mf.prune_versions(path, keep_versions=1, min_age_seconds=0, store=store)
        assert sorted(mf._versions(*mf._at(path, store))) == [5], name
        # more commits, then vacuum again across the v1-v4 hole
        mf.commit(path, mutate=lambda old: old + ["g.parquet"], store=store)
        mf.prune_versions(path, keep_versions=1, min_age_seconds=0, store=store)
        assert sorted(mf._versions(*mf._at(path, store))) == [6], name
        assert mf.read_files(path, store=store) == sorted(
            [f"f{i}.parquet" for i in range(5)] + ["g.parquet"]
        ), name


def test_vacuum_repeated_with_holes(tmp_path):
    """Version pruning keeps the last ``keep_versions`` versions; later
    vacuums skip the holes below the kept window instead of reading them
    (crashed the streaming sink's second maintenance pass before the r11
    fix), and a pruned version is gone past the reader horizon."""
    _check_version_prune(tmp_path, ["posix"])
    # the points vacuum over a POSIX table: data files are not touched here
    path = str(tmp_path / "t")
    for i in range(6):
        mf.commit(path, mutate=lambda old, i=i: old + [f"f{i}.parquet"])
    assert storage.vacuum_points(path, keep_versions=1, min_age_seconds=0) == []
    assert [p.name for p in (tmp_path / "t" / "_manifest").glob("v*.json")] == ["v6.json"]


def test_objectstore_vacuum_versions(tmp_path):
    """The version prune's window, reader horizon and hole skipping on the
    object-store backends."""
    _check_version_prune(tmp_path, OBJECT_STORES)


def test_compact_storage_preserves_txn_ledger(spark, points, table):
    """A whole-table compaction rewrite must carry the txn ledger into the
    swapped-in manifest: a streaming batch whose checkpoint commit was
    pending across the compaction is STILL a no-op on replay."""
    n0 = storage.read_points(spark, table).count()
    storage.write_points(points.limit(4), table, mode="append", txn=("ck", 3))
    storage.compact_storage(spark, table)
    assert mf.read_txn(table, "ck") == 3
    # replay of batch 3 after compaction: no duplicates
    before = storage.read_points(spark, table).count()
    storage.write_points(points.limit(4), table, mode="append", txn=("ck", 3))
    assert storage.read_points(spark, table).count() == before
    # and the next batch proceeds
    storage.write_points(points.limit(2), table, mode="append", txn=("ck", 4))
    assert storage.read_points(spark, table).count() == before + 2
    assert before <= n0 + 4  # compaction deduped, never duplicated


def _check_cas_retry_through_vacuum(tmp_path, monkeypatch, backends):
    real_read = mf._read_doc
    calls = {"n": 0}

    def racing_read(st, pre, version):
        calls["n"] += 1
        if calls["n"] == 1:
            # simulate the prune landing between the listing and this read
            raise FileNotFoundError(f"v{version}.json pruned by vacuum")
        return real_read(st, pre, version)

    monkeypatch.setattr(mf, "_read_doc", racing_read)
    for name in backends:
        path, store = _backend(name, tmp_path)
        mf.commit(path, ["a"], txn=("app", 0), store=store)
        calls["n"] = 0
        v = mf.commit(path, mutate=lambda old: old + ["b"], txn=("app", 1), store=store)
        assert v == 2, name
        assert calls["n"] >= 2, name  # first attempt lost, retry won
        assert mf.read_files(path, store=store) == ["a", "b"], name
        assert mf.read_txn(path, "app", store=store) == 1, name


def test_commit_cas_retries_through_vacuumed_current_version(tmp_path, monkeypatch):
    """ADVICE r11 (medium): between latest_version() and the ledger read, a
    concurrent committer can advance LATEST and a concurrent vacuum can
    prune v{cur} — the read raises FileNotFoundError and must be absorbed
    as one more lost CAS attempt, not an unhandled crash."""
    _check_cas_retry_through_vacuum(tmp_path, monkeypatch, ["posix"])


def test_objectstore_commit_cas_retries_through_vacuumed_version(tmp_path, monkeypatch):
    """Same vacuum race on the object-store backends: a pruned v{cur} GET
    inside the CAS loop retries instead of raising."""
    _check_cas_retry_through_vacuum(tmp_path, monkeypatch, OBJECT_STORES)


def test_write_points_txn_overwrite_replay_is_noop(spark, points, table):
    """ADVICE r11 (low): txn + mode='overwrite' used to run the destructive
    parquet rewrite BEFORE the ledger check — a replayed txn's commit then
    no-op'd while LATEST kept referencing the files the rewrite deleted.
    The pre-check now applies to every mode: the replay never touches disk."""
    storage.write_points(points.limit(3), table, mode="append", txn=("ck", 7))
    n = storage.read_points(spark, table).count()
    v = mf.latest_version(table)
    # replayed txn in overwrite mode: full no-op, table still readable
    storage.write_points(points.limit(1), table, mode="overwrite", txn=("ck", 7))
    assert mf.latest_version(table) == v
    assert storage.read_points(spark, table).count() == n
    # a NEW txn in overwrite mode still overwrites (legitimate use)
    storage.write_points(points.limit(2), table, mode="overwrite", txn=("ck", 8))
    assert storage.read_points(spark, table).count() == 2
    assert mf.read_txn(table, "ck") == 8


def test_write_points_concurrent_appenders_thread_race(spark, points, table):
    """Two real threads append to ONE manifested table simultaneously,
    several rounds each: private staging means neither tramples the
    other's in-flight job files (shared _temporary/0 did, pre-r12), and
    the manifest CAS merges every commit — total rows and the LATEST file
    list must account for every append exactly once."""
    import threading

    n0 = storage.read_points(spark, table).count()
    rounds, per_batch = 3, 5
    errors: list = []

    def appender(app: str) -> None:
        try:
            for i in range(rounds):
                storage.write_points(
                    points.limit(per_batch), table, mode="append", txn=(app, i)
                )
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(repr(e))

    threads = [threading.Thread(target=appender, args=(f"app{k}",)) for k in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    expect = n0 + 2 * rounds * per_batch
    assert storage.read_points(spark, table).count() == expect
    # LATEST references exactly the files on disk (no stranded staging)
    assert sorted(mf.read_files(table)) == storage.data_files(table)
    assert mf.read_txn(table, "app0") == rounds - 1
    assert mf.read_txn(table, "app1") == rounds - 1
    from pathlib import Path

    assert not list(Path(table).glob(".staging-*"))


def test_vacuum_spares_staging_with_fresh_leaves(tmp_path):
    """ADVICE r12: a long-running append's staging dir has a STALE root
    mtime (only leaf mtimes advance as Spark writes part files); vacuum
    must judge liveness by the newest mtime anywhere in the tree, or it
    rmtrees a live writer's staging mid-write."""
    import os
    import time

    from sydradb_spark import manifest as mf

    table = tmp_path / "tbl"
    (table / "_manifest").mkdir(parents=True)
    mf.commit(str(table), [])
    old = time.time() - 7200
    # crashed staging: root AND leaves old → reclaimed
    dead = table / ".staging-dead"
    dead.mkdir()
    (dead / "part-0.parquet").write_bytes(b"x")
    os.utime(dead / "part-0.parquet", (old, old))
    os.utime(dead, (old, old))
    # live staging: old root dir, but a part file written JUST NOW
    live = table / ".staging-live"
    live.mkdir()
    (live / "part-0.parquet").write_bytes(b"x")
    os.utime(live, (old, old))
    storage.vacuum_points(str(table), min_age_seconds=600)
    assert not dead.exists()
    assert live.exists()  # fresh leaf kept the whole tree alive


def test_vacuum_spares_concurrently_committed_version(tmp_path):
    """r13 review (severe): a version committed DURING a vacuum is above the
    vacuum's snapshot and must survive the version prune — deleting it
    left LATEST pointing at a deleted manifest, bricking reads AND commits.
    The commit is injected between the vacuum's LATEST snapshot and its
    version listing, with min_age=0 so nothing is 'young'."""
    real_versions = mf._versions

    for name in BACKENDS:
        path, store = _backend(name, tmp_path)
        for i in range(5):
            mf.commit(path, [f"f{i}"], store=store)
        calls = {"n": 0}

        def inject_then_list(st, pre):
            calls["n"] += 1
            if calls["n"] == 2:  # the prune's own listing, after its snapshot
                mf.commit(path, ["f_concurrent"], store=store)
            return real_versions(st, pre)

        mf._versions = inject_then_list
        try:
            mf.prune_versions(path, keep_versions=2, min_age_seconds=0, store=store)
        finally:
            mf._versions = real_versions
        assert mf.latest_version(path, store=store) == 6, name
        assert mf.read_files(path, store=store) == ["f_concurrent"], name  # readable
        mf.commit(path, mutate=lambda old: old + ["f_next"], store=store)  # committable


def test_vacuum_keeps_fresh_partition_dir_with_only_hidden_crc(tmp_path):
    """r13 review: an appender renames the hidden .crc sibling BEFORE its
    parquet file, so a fresh partition dir can hold only a young hidden
    file — the empty-dir prune must not delete it (the in-flight rename
    would lose its parent). Old all-hidden dirs are still pruned."""
    import os
    import time

    from sydradb_spark import manifest as mf

    table = tmp_path / "tbl"
    (table / "_manifest").mkdir(parents=True)
    mf.commit(str(table), [])
    fresh = table / "hour_bucket=0"
    fresh.mkdir()
    (fresh / ".part-0.parquet.crc").write_bytes(b"x")  # appender mid-rename
    stale = table / "hour_bucket=3600"
    stale.mkdir()
    (stale / ".leftover.crc").write_bytes(b"x")
    old = time.time() - 7200
    os.utime(stale / ".leftover.crc", (old, old))
    os.utime(stale, (old, old))
    storage.vacuum_points(str(table), min_age_seconds=600)
    assert (fresh / ".part-0.parquet.crc").exists()  # young: kept
    assert not stale.exists()  # genuinely stale leftovers: pruned


def test_concurrent_vacuums_tolerate_each_other(tmp_path, monkeypatch):
    """r13 review: the second of two racing vacuums must not crash on a
    file the first already unlinked (missing_ok on the data prune)."""
    import os
    import time

    table = tmp_path / "tbl"
    d = table / "hour_bucket=0"
    d.mkdir(parents=True)
    (d / "part-dead.parquet").write_bytes(b"x")
    old = time.time() - 7200
    os.utime(d / "part-dead.parquet", (old, old))
    mf.commit(str(table), [])  # dead file is unreferenced
    # simulate the loser: remove the file after data_files() listed it
    real_data_files = storage.data_files

    def list_then_steal(path, spark=None):
        rels = real_data_files(path, spark)
        for rel in rels:
            (table / rel).unlink(missing_ok=True)  # the winner got there first
        return rels

    monkeypatch.setattr(storage, "data_files", list_then_steal)
    removed = storage.vacuum_points(str(table), min_age_seconds=600)
    # the loser neither crashes nor double-claims: the missing file stats
    # as 'young' (racing its deleter) and is skipped entirely
    assert removed == []
    assert not (d / "part-dead.parquet").exists()




def test_prune_versions_age_window_on_every_backend(tmp_path):
    """The vacuum's age guards hold on every backend: versions younger than
    the window survive a small ``keep_versions``, and a crashed committer's
    temp file beside the versions is reclaimed once it is older than the
    window, while a fresh one (a commit in flight) is kept."""
    import os
    import time

    for name in BACKENDS:
        path, store = _backend(name, tmp_path)
        for i in range(4):
            mf.commit(path, mutate=lambda old, i=i: old + [f"f{i}"], store=store)
        st, pre = mf._at(path, store)
        mf.prune_versions(path, keep_versions=1, min_age_seconds=600, store=store)
        assert sorted(mf._versions(st, pre)) == [1, 2, 3, 4], name  # all young
        if name != "memory":  # only a filesystem store leaves temp files
            root = st.root / pre
            old, fresh = root / ".v9.json.dead.tmp", root / ".v9.json.live.tmp"
            old.write_text("{}")
            fresh.write_text("{}")
            past = time.time() - 7200
            os.utime(old, (past, past))
            mf.prune_versions(path, keep_versions=1, min_age_seconds=600, store=store)
            assert not old.exists() and fresh.exists(), name
        mf.prune_versions(path, keep_versions=1, min_age_seconds=0, store=store)
        assert sorted(mf._versions(st, pre)) == [4], name
