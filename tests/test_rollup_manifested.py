"""Manifest-protocol rollup folding (VERDICT r12 item 1): lock-free batch
writes + compaction over the versioned-manifest CAS, safe on object stores
where the flock path of `compact_rollup` has no primitive to stand on.

Every test runs against BOTH manifest homes of the one protocol
(`manifest.commit`): the rollup directory (store=None) and a
MemoryObjectStore (conditional-PUT semantics, no filesystem atomicity
anywhere in the commit path)."""

from __future__ import annotations

import pathlib

import pytest

from sydradb_spark import manifest as mf
from sydradb_spark import objectstore as obs
from sydradb_spark.rollup import build_rollup
from sydradb_spark.streaming.rollup_stream import (
    STORE_TABLE,
    compact_rollup_manifested,
    read_rollup_manifested,
    stream_rollup,
    vacuum_rollup,
    write_rollup_batch_manifested,
)


def _mini_partial(spark, series: str, n: int):
    pts = spark.createDataFrame(
        [(series, 100 + i, 1.0) for i in range(n)],
        "series string, ts long, value double",
    ).selectExpr(
        "xxhash64(series) as series_id", "series",
        "map() as tags", "ts", "value",
        "cast(floor(ts/3600)*3600 as long) as hour_bucket",
    )
    return build_rollup(pts, step_s=3600)


@pytest.fixture(params=["local", "store"])
def backend(request):
    """store=None → local manifest CAS; else the object-store protocol."""
    if request.param == "local":
        return lambda: None
    return lambda: obs.MemoryObjectStore()


def _manifest_names(roll: str, store) -> list[str]:
    if not mf.has_manifest(roll, store=store, key=STORE_TABLE):
        return []
    return sorted(mf.read_files(roll, store=store, key=STORE_TABLE))


def test_manifested_write_and_read(spark, tmp_path, backend):
    store = backend()
    roll = str(tmp_path / "roll")
    v1 = write_rollup_batch_manifested(
        _mini_partial(spark, "s.a", 2), roll, 0, "stream-one", store=store
    )
    v2 = write_rollup_batch_manifested(
        _mini_partial(spark, "s.b", 3), roll, 0, "stream-two", store=store
    )
    assert (v1, v2) == (1, 2)
    folded = {
        r["series"]: r for r in read_rollup_manifested(spark, roll, 3600, store).collect()
    }
    assert folded["s.a"]["cnt"] == 2 and folded["s.b"]["cnt"] == 3
    # a replay is a txn no-op at the manifest level AND converges on disk
    assert (
        write_rollup_batch_manifested(
            _mini_partial(spark, "s.b", 3), roll, 0, "stream-two", store=store
        )
        is None
    )
    folded = {
        r["series"]: r for r in read_rollup_manifested(spark, roll, 3600, store).collect()
    }
    assert folded["s.b"]["cnt"] == 3  # not 6


def test_manifested_compaction_folds_and_keeps_tails(spark, tmp_path, backend):
    store = backend()
    roll = str(tmp_path / "roll")
    for app, series in (("stream-one", "s.a"), ("stream-two", "s.b")):
        for b in (0, 1):
            write_rollup_batch_manifested(
                _mini_partial(spark, series, 2), roll, b, app, store=store
            )
    assert compact_rollup_manifested(spark, roll, 3600, store) is not None
    names = _manifest_names(roll, store)
    batches = [n for n in names if n.startswith("b_")]
    compacted = [n for n in names if n.startswith("c_")]
    # each app's newest batch rides through unfolded; older ones are folded
    assert batches == [
        "b_stream-one_000000000001",
        "b_stream-two_000000000001",
    ]
    assert len(compacted) == 1
    folded = {
        r["series"]: r for r in read_rollup_manifested(spark, roll, 3600, store).collect()
    }
    assert folded["s.a"]["cnt"] == 4 and folded["s.b"]["cnt"] == 4
    # post-compaction replay of each app's live tail still converges
    write_rollup_batch_manifested(
        _mini_partial(spark, "s.a", 2), roll, 1, "stream-one", store=store
    )
    folded = {
        r["series"]: r for r in read_rollup_manifested(spark, roll, 3600, store).collect()
    }
    assert folded["s.a"]["cnt"] == 4


def test_manifested_batch_mid_fold_not_lost(spark, tmp_path, backend):
    """THE object-store race the flock used to close: a batch committed
    between compaction's manifest read and its commit must land in the new
    version, not vanish with the fold. No locks — the CAS mutate removes
    only the exact entries the fold read, so the mid-fold entry rides
    through."""
    store = backend()
    roll = str(tmp_path / "roll")
    for b in (0, 1):
        write_rollup_batch_manifested(
            _mini_partial(spark, "s.a", 2), roll, b, "stream-one", store=store
        )
    late = _mini_partial(spark, "s.a", 5)

    def mid_fold():
        write_rollup_batch_manifested(late, roll, 2, "stream-one", store=store)

    assert (
        compact_rollup_manifested(spark, roll, 3600, store, _pre_commit_hook=mid_fold)
        is not None
    )
    names = _manifest_names(roll, store)
    assert "b_stream-one_000000000002" in names  # the mid-fold batch survived
    folded = read_rollup_manifested(spark, roll, 3600, store).collect()
    assert folded[0]["cnt"] == 2 + 2 + 5


def test_manifested_concurrent_fold_aborts(spark, tmp_path, backend):
    """Two compactions racing over the same sources must not double-count:
    the loser's mutate sees its folded sources already removed, aborts the
    commit, and reclaims its own orphaned output."""
    store = backend()
    roll = str(tmp_path / "roll")
    for b in (0, 1, 2):
        write_rollup_batch_manifested(
            _mini_partial(spark, "s.a", 2), roll, b, "stream-one", store=store
        )

    def competing_fold():
        # a full competing compaction commits FIRST
        assert compact_rollup_manifested(spark, roll, 3600, store) is not None

    assert (
        compact_rollup_manifested(
            spark, roll, 3600, store, _pre_commit_hook=competing_fold
        )
        is None  # loser detects the conflict and aborts
    )
    names = _manifest_names(roll, store)
    assert len([n for n in names if n.startswith("c_")]) == 1
    folded = read_rollup_manifested(spark, roll, 3600, store).collect()
    assert folded[0]["cnt"] == 6  # three batches, once each
    # the loser's orphaned c_ dir is gone from disk
    on_disk = {p.name for p in pathlib.Path(roll).glob("c_*")}
    assert on_disk == {n for n in names if n.startswith("c_")}


def test_manifested_replay_after_fold_never_resurfaces(spark, tmp_path, backend):
    """A batch dir recreated AFTER compaction folded it away (replay of a
    non-tail batch — can't happen live, but the guarantee is belt-and-
    braces): the txn ledger makes its manifest commit a no-op, so readers
    never double-count; vacuum reclaims the orphan dir."""
    store = backend()
    roll = str(tmp_path / "roll")
    for b in (0, 1):
        write_rollup_batch_manifested(
            _mini_partial(spark, "s.a", 2), roll, b, "stream-one", store=store
        )
    compact_rollup_manifested(spark, roll, 3600, store)  # folds batch 0
    assert "b_stream-one_000000000000" not in _manifest_names(roll, store)
    # replay batch 0: the r14 ledger pre-check skips the write entirely
    # (the original orphan dir stays for vacuum); return value is None
    assert (
        write_rollup_batch_manifested(
            _mini_partial(spark, "s.a", 2), roll, 0, "stream-one", store=store
        )
        is None
    )
    assert "b_stream-one_000000000000" not in _manifest_names(roll, store)
    folded = read_rollup_manifested(spark, roll, 3600, store).collect()
    assert folded[0]["cnt"] == 4  # batches 0+1 exactly once
    removed = vacuum_rollup(roll, store, keep_versions=1, min_age_seconds=0)
    assert "b_stream-one_000000000000" in removed
    assert not (pathlib.Path(roll) / "b_stream-one_000000000000").exists()
    # referenced entries survive the vacuum
    folded = read_rollup_manifested(spark, roll, 3600, store).collect()
    assert folded[0]["cnt"] == 4


def test_manifested_replay_skips_data_write(spark, tmp_path, backend):
    """The r14 ledger PRE-CHECK: a gap-crash replay (batch already in the
    ledger) must not touch the batch dir at all — the old replay overwrote
    a manifest-referenced dir in place (delete-then-rewrite), tearing a
    concurrent reader mid-scan. A batch NOT in the ledger (crash between
    write and commit) still rewrites."""
    store = backend()
    roll = str(tmp_path / "roll")
    write_rollup_batch_manifested(
        _mini_partial(spark, "s.a", 2), roll, 0, "stream-one", store=store
    )
    target = pathlib.Path(roll) / "b_stream-one_000000000000"
    before = sorted((p.name, p.stat().st_mtime_ns) for p in target.rglob("*.parquet"))
    # replay: ledger has batch 0 → no parquet job, dir untouched, None back
    assert (
        write_rollup_batch_manifested(
            _mini_partial(spark, "s.a", 2), roll, 0, "stream-one", store=store
        )
        is None
    )
    after = sorted((p.name, p.stat().st_mtime_ns) for p in target.rglob("*.parquet"))
    assert after == before  # bit-identical dir: no delete-then-rewrite window
    # a NEW batch id (not in the ledger) does write
    assert (
        write_rollup_batch_manifested(
            _mini_partial(spark, "s.a", 3), roll, 1, "stream-one", store=store
        )
        is not None
    )
    folded = read_rollup_manifested(spark, roll, 3600, store).collect()
    assert folded[0]["cnt"] == 5


def test_manifested_vacuum_age_guard(spark, tmp_path, backend):
    """An unreferenced dir younger than the window is kept (it may be a
    live writer's target whose manifest commit hasn't landed yet)."""
    store = backend()
    roll = str(tmp_path / "roll")
    write_rollup_batch_manifested(
        _mini_partial(spark, "s.a", 2), roll, 0, "stream-one", store=store
    )
    # an on-disk dir with NO manifest entry (simulates crash between the
    # parquet write and the manifest commit)
    _mini_partial(spark, "s.a", 3).write.mode("overwrite").parquet(
        f"{roll}/b_stream-two_000000000000"
    )
    assert vacuum_rollup(roll, store, min_age_seconds=3600) == []
    assert vacuum_rollup(roll, store, keep_versions=1, min_age_seconds=0) == [
        "b_stream-two_000000000000"
    ]


def test_stream_rollup_manifest_commit_end_to_end(spark, tmp_path, backend):
    """The streaming sink in manifest_commit mode: every micro-batch write
    is followed by a txn-ledgered manifest commit; the manifested reader
    sees exactly the committed batches and compaction works mid-stream."""
    store = backend()
    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.ndjson").write_text(
        '{"series": "s.a", "ts": 100, "value": 1.0}\n'
        '{"series": "s.a", "ts": 200, "value": 3.0}\n'
    )
    roll = str(tmp_path / "roll")
    ck = str(tmp_path / "ck")
    q = stream_rollup(
        spark, str(src), roll, ck, manifest_commit=True, store=store
    )
    q.awaitTermination(60)
    (src / "b2.ndjson").write_text('{"series": "s.a", "ts": 150, "value": 7.0}\n')
    q2 = stream_rollup(
        spark, str(src), roll, ck, manifest_commit=True, store=store
    )
    q2.awaitTermination(60)
    compact_rollup_manifested(spark, roll, 3600, store)
    folded = read_rollup_manifested(spark, roll, 3600, store).collect()
    assert len(folded) == 1
    assert folded[0]["cnt"] == 3 and folded[0]["sum_v"] == pytest.approx(11.0)
    names = _manifest_names(roll, store)
    assert len([n for n in names if n.startswith("b_")]) == 1  # one live tail


def test_store_table_key_is_scoped(tmp_path):
    """The objectstore manifest lives under the fixed STORE_TABLE key —
    callers scope the store to one rollup table (mint_app_id's contract)."""
    store = obs.MemoryObjectStore()
    assert mf.latest_version(str(tmp_path), store=store, key=STORE_TABLE) is None


def test_compact_rollup_rejects_non_posix_path(spark):
    """`compact_rollup`'s Path-glob fold would silently list NOTHING on an
    object-store URI (a no-op masquerading as maintenance) — it must raise
    and route to the manifested fold instead."""
    from sydradb_spark.streaming.rollup_stream import compact_rollup

    with pytest.raises(ValueError, match="compact_rollup_manifested"):
        compact_rollup(spark, "s3://bucket/rollup", 3600)


def test_stream_rollup_manifested_crash_replay_converges(spark, tmp_path, backend):
    """Pytest-scale twin of the soak's crash schedule: a crash in the
    write→checkpoint gap redelivers the batch; in manifest_commit mode the
    replay overwrites its dir AND its manifest commit is a txn no-op — the
    folded result counts every input row exactly once."""
    store = backend()
    src = tmp_path / "src"
    src.mkdir()
    for i in range(4):
        (src / f"b{i}.ndjson").write_text(
            f'{{"series": "s.a", "ts": {100 + i}, "value": 1.0}}\n'
        )
    roll = str(tmp_path / "roll")
    ck = str(tmp_path / "ck")
    crashed = {"done": False}

    def hook(batch_id: int) -> None:
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash after rollup batch 1")

    q = stream_rollup(
        spark, str(src), roll, ck,
        manifest_commit=True, store=store,
        max_files_per_trigger=1, _after_write_hook=hook,
    )
    with pytest.raises(Exception, match="injected"):
        q.awaitTermination(120)
    q2 = stream_rollup(
        spark, str(src), roll, ck,
        manifest_commit=True, store=store, max_files_per_trigger=1,
    )
    q2.awaitTermination(120)
    folded = read_rollup_manifested(spark, roll, 3600, store).collect()
    assert len(folded) == 1
    assert folded[0]["cnt"] == 4  # batch 1 replayed, counted once


def test_manifested_threaded_writers_vs_fold_vs_vacuum(spark, tmp_path, backend):
    """CI-resident miniature of SOAK_rollup_store_sf10_r13: two writer
    threads (disjoint series, occasional replays), one maintenance thread
    folding + vacuuming on a timer, all serialized ONLY by the manifest CAS.
    Ends with: folded result == expected multiset, exactly one live tail
    per app in the manifest, no compaction errors."""
    import threading
    import time

    store = backend()
    roll = str(tmp_path / "roll")
    n_batches = 8
    partials = {
        app: [_mini_partial(spark, series, b + 1) for b in range(n_batches)]
        for app, series in (("stream-one", "s.a"), ("stream-two", "s.b"))
    }
    errors: list = []

    def writer(app: str) -> None:
        try:
            for b in range(n_batches):
                write_rollup_batch_manifested(partials[app][b], roll, b, app, store=store)
                if b % 3 == 1:  # crash-replay twin: re-deliver the same batch
                    write_rollup_batch_manifested(
                        partials[app][b], roll, b, app, store=store
                    )
        except Exception as e:  # pragma: no cover - surfaced by the assert
            errors.append(e)

    stop = threading.Event()

    def maintenance() -> None:
        while not stop.is_set():
            time.sleep(0.3)
            try:
                compact_rollup_manifested(spark, roll, 3600, store)
                vacuum_rollup(roll, store, keep_versions=2, min_age_seconds=600)
            except Exception as e:  # pragma: no cover
                errors.append(e)

    threads = [threading.Thread(target=writer, args=(app,)) for app in partials]
    maint = threading.Thread(target=maintenance, daemon=True)
    maint.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stop.set()
    maint.join()
    assert not errors, errors
    compact_rollup_manifested(spark, roll, 3600, store)
    folded = {r["series"]: r for r in read_rollup_manifested(spark, roll, 3600, store).collect()}
    # per app: batches of sizes 1..8, each counted exactly once = 36 rows
    assert folded["s.a"]["cnt"] == sum(range(1, n_batches + 1))
    assert folded["s.b"]["cnt"] == sum(range(1, n_batches + 1))
    live = [n for n in _manifest_names(roll, store) if n.startswith("b_")]
    assert len(live) == 2  # one live tail per app


def test_stream_rollup_manifested_maintenance_bounds_versions(spark, tmp_path, backend):
    """Manifested streaming without in-sink maintenance accrues one manifest
    version per batch forever (the points sink's old quadratic); with
    maintenance_every=k the version count stays within keep + slack and
    referenced data survives."""
    store = backend()
    src = tmp_path / "src"
    src.mkdir()
    for i in range(8):
        (src / f"b{i}.ndjson").write_text(
            f'{{"series": "s.a", "ts": {100 + i}, "value": 1.0}}\n'
        )
    roll = str(tmp_path / "roll")
    q = stream_rollup(
        spark, str(src), roll, str(tmp_path / "ck"),
        manifest_commit=True, store=store, max_files_per_trigger=1,
        maintenance_every=3, maintenance_keep_versions=2, _vacuum_min_age=0,
    )
    q.awaitTermination(120)
    if store is None:
        versions = list((pathlib.Path(roll) / "_manifest").glob("v*.json"))
    else:
        versions = store.list("rollup/_manifest/v")
    # 8 commits would be 8 versions unvacuumed; the bound is keep + the
    # commits since the last vacuum (fired at batch 6) + slack
    assert len(versions) <= 2 + 2 + 1, sorted(str(v) for v in versions)
    folded = read_rollup_manifested(spark, roll, 3600, store).collect()
    assert folded[0]["cnt"] == 8  # every batch still counted exactly once


def test_init_rollup_manifest_adopts_flock_table(spark, tmp_path, backend):
    """Migration path: a flock-mode table (top-level compacted parquet from
    the directory-swap compactor + unfolded batch dirs) is adopted by
    committing its on-disk entries as the first manifest version; folds and
    vacuums then treat the legacy compacted files like any folded entry."""
    from sydradb_spark.streaming.rollup_stream import (
        compact_rollup,
        init_rollup_manifest,
        write_rollup_batch,
    )

    store = backend()
    roll = str(tmp_path / "roll")
    # build a flock-mode table: two batches, compact (top-level parquet +
    # one live tail), then one more batch
    write_rollup_batch(_mini_partial(spark, "s.a", 2), roll, 0, "stream-one")
    write_rollup_batch(_mini_partial(spark, "s.a", 2), roll, 1, "stream-one")
    compact_rollup(spark, roll, 3600)
    write_rollup_batch(_mini_partial(spark, "s.a", 2), roll, 2, "stream-one")

    assert init_rollup_manifest(roll, store) is not None
    names = _manifest_names(roll, store)
    assert any(n.endswith(".parquet") for n in names)  # legacy compacted file
    assert "b_stream-one_000000000002" in names
    folded = read_rollup_manifested(spark, roll, 3600, store).collect()
    assert folded[0]["cnt"] == 6  # all three batches, once each
    # idempotent re-adoption
    init_rollup_manifest(roll, store)
    assert _manifest_names(roll, store) == names
    # a manifested fold replaces the legacy file; vacuum reclaims it
    assert compact_rollup_manifested(spark, roll, 3600, store) is not None
    removed = vacuum_rollup(roll, store, keep_versions=1, min_age_seconds=0)
    assert any(n.endswith(".parquet") for n in removed)
    folded = read_rollup_manifested(spark, roll, 3600, store).collect()
    assert folded[0]["cnt"] == 6  # nothing lost through migrate+fold+vacuum


def test_manifested_uri_paths_guarded_and_hadoop_routed(spark, tmp_path, monkeypatch):
    """r13 review findings: (a) store=None + a URI rollup path must be
    REJECTED — the local link-CAS would mkdir relative 's3a:/...' junk;
    (b) with a store, vacuum/cleanup on a URI DATA location must route
    through the Hadoop FileSystem API instead of crashing on
    Path('s3a://...').iterdir() or silently no-op'ing shutil. Simulated by
    forcing the non-POSIX branch while the URI is a real file:// location
    Hadoop can serve."""
    from sydradb_spark import ingest
    from sydradb_spark.streaming.rollup_stream import (
        _remove_entry,
        init_rollup_manifest,
    )

    roll_local = tmp_path / "roll"
    store = obs.MemoryObjectStore()
    write_rollup_batch_manifested(
        _mini_partial(spark, "s.a", 2), str(roll_local), 0, "stream-one", store=store
    )
    write_rollup_batch_manifested(
        _mini_partial(spark, "s.a", 2), str(roll_local), 1, "stream-one", store=store
    )
    compact_rollup_manifested(spark, str(roll_local), 3600, store)  # folds b_0

    uri = f"file://{roll_local}"
    real = ingest._posix_checkpoint_path
    monkeypatch.setattr(
        ingest, "_posix_checkpoint_path", lambda p: None if p.startswith("file://") else real(p)
    )
    # (a) local protocol rejected on the 'object-store' location
    with pytest.raises(ValueError, match="object-store"):
        write_rollup_batch_manifested(
            _mini_partial(spark, "s.a", 2), uri, 2, "stream-one", store=None
        )
    with pytest.raises(ValueError, match="store"):
        vacuum_rollup(uri, None, min_age_seconds=0)
    # (b) Hadoop-routed vacuum reclaims the folded dir on the URI location
    assert (roll_local / "b_stream-one_000000000000").exists()
    removed = vacuum_rollup(uri, store, keep_versions=1, min_age_seconds=0, spark=spark)
    assert "b_stream-one_000000000000" in removed
    assert not (roll_local / "b_stream-one_000000000000").exists()
    # without a session the URI data pass is skipped, never a crash
    assert vacuum_rollup(uri, store, keep_versions=1, min_age_seconds=0) == []
    # Hadoop-routed single-entry removal (the loser-fold cleanup path)
    (roll_local / "c_orphan").mkdir()
    (roll_local / "c_orphan" / "x").write_text("x")
    _remove_entry(spark, uri, "c_orphan")
    assert not (roll_local / "c_orphan").exists()
    # init_rollup_manifest: URI listing needs a session, then works
    with pytest.raises(ValueError, match="SparkSession"):
        init_rollup_manifest(uri, store)
    assert init_rollup_manifest(uri, store, spark=spark) is not None
    # data intact through it all
    folded = read_rollup_manifested(spark, str(roll_local), 3600, store).collect()
    assert folded[0]["cnt"] == 4


def test_rollup_lock_degrades_on_flockless_local_fs(tmp_path, monkeypatch):
    """r13 review finding: a LOCAL path whose filesystem refuses flock
    (NFS mounted nolock) must degrade to unlocked — the scheme guard alone
    turned that previously-working deployment into a stream-killing crash."""
    import fcntl

    from sydradb_spark.streaming.rollup_stream import _rollup_lock

    def refuse(*a, **k):
        raise OSError(37, "No locks available")

    monkeypatch.setattr(fcntl, "flock", refuse)
    with _rollup_lock(str(tmp_path / "tbl"), exclusive=True) as lk:
        assert lk._fh is None  # degraded, not crashed


@pytest.mark.parametrize("lose", ["listing", "manifest_files"])
def test_vacuum_rollup_refuses_without_a_readable_version(spark, tmp_path, backend, lose, monkeypatch):
    """A committed entry survives a vacuum that finds no readable manifest
    version — whether the store's listing comes back empty or every file
    under ``_manifest/`` is gone. Without a keep-set the vacuum raises
    instead of reclaiming committed entries."""
    store = backend()
    roll = str(tmp_path / "roll")
    write_rollup_batch_manifested(_mini_partial(spark, "s.a", 2), roll, 0, "x", store=store)
    entry = "b_x_000000000000"
    st, pre = mf._at(roll, store, STORE_TABLE)
    if lose == "listing":
        real_list = type(st).list
        monkeypatch.setattr(
            type(st), "list", lambda self, p: [] if p.startswith(pre) else real_list(self, p)
        )
    else:
        for k in st.list(pre):
            st.delete(k)
    with pytest.raises(RuntimeError, match="keep-set"):
        vacuum_rollup(roll, store, keep_versions=1, min_age_seconds=0)
    assert (tmp_path / "roll" / entry).is_dir()
