"""Manifest-protocol rollup folding: lock-free batch writes + compaction
over the versioned-manifest CAS, the rollup table's one commit protocol.

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
    compact_rollup,
    init_rollup_manifest,
    read_rollup,
    stream_rollup,
    vacuum_rollup,
    write_rollup_batch,
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
    """Batch targets are keyed by (app_id, batch_id): a checkpoint-reset
    stream (batch ids restart at 0) or a second stream feeding the same
    table must not overwrite-destroy another app's unfolded partial, and
    each app's replay converges onto its own target."""
    store = backend()
    roll = str(tmp_path / "roll")
    v1 = write_rollup_batch(
        _mini_partial(spark, "s.a", 2), roll, 0, "stream-one", store=store
    )
    v2 = write_rollup_batch(
        _mini_partial(spark, "s.b", 3), roll, 0, "stream-two", store=store
    )
    assert (v1, v2) == (1, 2)
    folded = {
        r["series"]: r for r in read_rollup(spark, roll, 3600, store).collect()
    }
    assert folded["s.a"]["cnt"] == 2 and folded["s.b"]["cnt"] == 3
    # a replay is a txn no-op at the manifest level AND converges on disk
    assert (
        write_rollup_batch(
            _mini_partial(spark, "s.b", 3), roll, 0, "stream-two", store=store
        )
        is None
    )
    folded = {
        r["series"]: r for r in read_rollup(spark, roll, 3600, store).collect()
    }
    assert folded["s.b"]["cnt"] == 3  # not 6


def test_manifested_compaction_folds_and_keeps_tails(spark, tmp_path, backend):
    store = backend()
    roll = str(tmp_path / "roll")
    for app, series in (("stream-one", "s.a"), ("stream-two", "s.b")):
        for b in (0, 1):
            write_rollup_batch(
                _mini_partial(spark, series, 2), roll, b, app, store=store
            )
    assert compact_rollup(spark, roll, 3600, store) is not None
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
        r["series"]: r for r in read_rollup(spark, roll, 3600, store).collect()
    }
    assert folded["s.a"]["cnt"] == 4 and folded["s.b"]["cnt"] == 4
    # post-compaction replay of each app's live tail still converges
    write_rollup_batch(
        _mini_partial(spark, "s.a", 2), roll, 1, "stream-one", store=store
    )
    folded = {
        r["series"]: r for r in read_rollup(spark, roll, 3600, store).collect()
    }
    assert folded["s.a"]["cnt"] == 4


def test_manifested_batch_mid_fold_not_lost(spark, tmp_path, backend):
    """A batch committed between compaction's manifest read and its commit
    must land in the new version, not vanish with the fold. No locks — the CAS mutate removes
    only the exact entries the fold read, so the mid-fold entry rides
    through."""
    store = backend()
    roll = str(tmp_path / "roll")
    for b in (0, 1):
        write_rollup_batch(
            _mini_partial(spark, "s.a", 2), roll, b, "stream-one", store=store
        )
    late = _mini_partial(spark, "s.a", 5)

    def mid_fold():
        write_rollup_batch(late, roll, 2, "stream-one", store=store)

    assert (
        compact_rollup(spark, roll, 3600, store, _pre_commit_hook=mid_fold)
        is not None
    )
    names = _manifest_names(roll, store)
    assert "b_stream-one_000000000002" in names  # the mid-fold batch survived
    folded = read_rollup(spark, roll, 3600, store).collect()
    assert folded[0]["cnt"] == 2 + 2 + 5


def test_manifested_concurrent_fold_aborts(spark, tmp_path, backend):
    """Two compactions racing over the same sources must not double-count:
    the loser's mutate sees its folded sources already removed, aborts the
    commit, and reclaims its own orphaned output."""
    store = backend()
    roll = str(tmp_path / "roll")
    for b in (0, 1, 2):
        write_rollup_batch(
            _mini_partial(spark, "s.a", 2), roll, b, "stream-one", store=store
        )

    def competing_fold():
        # a full competing compaction commits FIRST
        assert compact_rollup(spark, roll, 3600, store) is not None

    assert (
        compact_rollup(
            spark, roll, 3600, store, _pre_commit_hook=competing_fold
        )
        is None  # loser detects the conflict and aborts
    )
    names = _manifest_names(roll, store)
    assert len([n for n in names if n.startswith("c_")]) == 1
    folded = read_rollup(spark, roll, 3600, store).collect()
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
        write_rollup_batch(
            _mini_partial(spark, "s.a", 2), roll, b, "stream-one", store=store
        )
    compact_rollup(spark, roll, 3600, store)  # folds batch 0
    assert "b_stream-one_000000000000" not in _manifest_names(roll, store)
    # replay batch 0: the r14 ledger pre-check skips the write entirely
    # (the original orphan dir stays for vacuum); return value is None
    assert (
        write_rollup_batch(
            _mini_partial(spark, "s.a", 2), roll, 0, "stream-one", store=store
        )
        is None
    )
    assert "b_stream-one_000000000000" not in _manifest_names(roll, store)
    folded = read_rollup(spark, roll, 3600, store).collect()
    assert folded[0]["cnt"] == 4  # batches 0+1 exactly once
    removed = vacuum_rollup(roll, store, keep_versions=1, min_age_seconds=0)
    assert "b_stream-one_000000000000" in removed
    assert not (pathlib.Path(roll) / "b_stream-one_000000000000").exists()
    # referenced entries survive the vacuum
    folded = read_rollup(spark, roll, 3600, store).collect()
    assert folded[0]["cnt"] == 4


def test_manifested_replay_skips_data_write(spark, tmp_path, backend):
    """The r14 ledger PRE-CHECK: a gap-crash replay (batch already in the
    ledger) must not touch the batch dir at all — the old replay overwrote
    a manifest-referenced dir in place (delete-then-rewrite), tearing a
    concurrent reader mid-scan. A batch NOT in the ledger (crash between
    write and commit) still rewrites."""
    store = backend()
    roll = str(tmp_path / "roll")
    write_rollup_batch(
        _mini_partial(spark, "s.a", 2), roll, 0, "stream-one", store=store
    )
    target = pathlib.Path(roll) / "b_stream-one_000000000000"
    before = sorted((p.name, p.stat().st_mtime_ns) for p in target.rglob("*.parquet"))
    # replay: ledger has batch 0 → no parquet job, dir untouched, None back
    assert (
        write_rollup_batch(
            _mini_partial(spark, "s.a", 2), roll, 0, "stream-one", store=store
        )
        is None
    )
    after = sorted((p.name, p.stat().st_mtime_ns) for p in target.rglob("*.parquet"))
    assert after == before  # bit-identical dir: no delete-then-rewrite window
    # a NEW batch id (not in the ledger) does write
    assert (
        write_rollup_batch(
            _mini_partial(spark, "s.a", 3), roll, 1, "stream-one", store=store
        )
        is not None
    )
    folded = read_rollup(spark, roll, 3600, store).collect()
    assert folded[0]["cnt"] == 5


def test_manifested_vacuum_age_guard(spark, tmp_path, backend):
    """An unreferenced dir younger than the window is kept (it may be a
    live writer's target whose manifest commit hasn't landed yet)."""
    store = backend()
    roll = str(tmp_path / "roll")
    write_rollup_batch(
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
    """The streaming sink: every micro-batch write is followed by a
    txn-ledgered manifest commit; the reader sees exactly the committed
    batches and compaction works mid-stream."""
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
        spark, str(src), roll, ck, store=store
    )
    q.awaitTermination(60)
    (src / "b2.ndjson").write_text('{"series": "s.a", "ts": 150, "value": 7.0}\n')
    q2 = stream_rollup(
        spark, str(src), roll, ck, store=store
    )
    q2.awaitTermination(60)
    compact_rollup(spark, roll, 3600, store)
    folded = read_rollup(spark, roll, 3600, store).collect()
    assert len(folded) == 1
    assert folded[0]["cnt"] == 3 and folded[0]["sum_v"] == pytest.approx(11.0)
    names = _manifest_names(roll, store)
    assert len([n for n in names if n.startswith("b_")]) == 1  # one live tail


def test_store_table_key_is_scoped(tmp_path):
    """The objectstore manifest lives under the fixed STORE_TABLE key —
    callers scope the store to one rollup table."""
    store = obs.MemoryObjectStore()
    assert mf.latest_version(str(tmp_path), store=store, key=STORE_TABLE) is None


def test_compact_rollup_rejects_non_posix_path(spark):
    """A fold of an object-store URI with no store= must raise — the
    manifest cannot live beside the data there, and a silent no-op would
    masquerade as maintenance."""
    with pytest.raises(ValueError, match="store="):
        compact_rollup(spark, "s3://bucket/rollup", 3600)


def test_stream_rollup_manifested_crash_replay_converges(spark, tmp_path, backend):
    """Pytest-scale twin of the soak's crash schedule: kill the stream
    AFTER the durable partial write but BEFORE the checkpoint commit; the
    restart redelivers the same batch_id, whose manifest commit is a txn
    no-op — the folded result counts every input row exactly once."""
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
        store=store, max_files_per_trigger=1, _after_write_hook=hook,
    )
    with pytest.raises(Exception, match="injected"):
        q.awaitTermination(120)
    q2 = stream_rollup(
        spark, str(src), roll, ck,
        store=store, max_files_per_trigger=1,
    )
    q2.awaitTermination(120)
    folded = read_rollup(spark, roll, 3600, store).collect()
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
                write_rollup_batch(partials[app][b], roll, b, app, store=store)
                if b % 3 == 1:  # crash-replay twin: re-deliver the same batch
                    write_rollup_batch(
                        partials[app][b], roll, b, app, store=store
                    )
        except Exception as e:  # pragma: no cover - surfaced by the assert
            errors.append(e)

    stop = threading.Event()

    def maintenance() -> None:
        while not stop.is_set():
            time.sleep(0.3)
            try:
                compact_rollup(spark, roll, 3600, store)
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
    compact_rollup(spark, roll, 3600, store)
    folded = {r["series"]: r for r in read_rollup(spark, roll, 3600, store).collect()}
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
        store=store, max_files_per_trigger=1,
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
    folded = read_rollup(spark, roll, 3600, store).collect()
    assert folded[0]["cnt"] == 8  # every batch still counted exactly once


def test_init_rollup_manifest_adopts_flock_table(spark, tmp_path, backend):
    """Migration path. An earlier release serialized rollup writers with a
    flock and compacted by swapping directories, and left tables with no
    manifest: ``b_<app>_<batch>`` dirs plus the compactor's top-level
    ``*.parquet`` output. That layout is written literally here. A read
    refuses it instead of answering empty; a stream adopts it and counts
    every legacy batch exactly once; a fold plus vacuum reclaims the legacy
    file without changing any count."""
    store = backend()
    roll = tmp_path / "roll"
    # the directory-swap compactor's output: folded batches 0 and 1 of
    # stream-one (2 points each) as top-level part files
    _mini_partial(spark, "s.a", 4).coalesce(1).write.parquet(str(roll))
    for name, series, n in (
        ("b_stream-one_000000000002", "s.a", 2),
        ("b_stream-one_000000000003", "s.a", 2),
        ("b_stream-two_000000000000", "s.b", 3),
    ):
        _mini_partial(spark, series, n).write.parquet(str(roll / name))
    (tmp_path / "roll.lock").write_text("")  # the flock file beside the table
    assert len(list(roll.glob("*.parquet"))) == 1
    assert not (roll / "_manifest").exists()

    with pytest.raises(ValueError, match="init_rollup_manifest"):
        read_rollup(spark, str(roll), 3600, store)
    assert not (roll / "_manifest").exists()  # the refused read created nothing

    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.ndjson").write_text(
        '{"series": "s.a", "ts": 100, "value": 1.0}\n'
        '{"series": "s.a", "ts": 101, "value": 1.0}\n'
    )
    q = stream_rollup(spark, str(src), str(roll), str(tmp_path / "ck"), store=store)
    q.awaitTermination(60)
    names = _manifest_names(str(roll), store)
    assert [n for n in names if n.endswith(".parquet")] == [
        p.name for p in roll.glob("*.parquet")
    ]
    assert len([n for n in names if n.startswith("b_")]) == 4  # 3 legacy + 1 new

    def counts():
        # the stream derives series_id from series + tags, the literal
        # partials from series alone: total per series name
        out: dict[str, int] = {}
        for r in read_rollup(spark, str(roll), 3600, store).collect():
            out[r["series"]] = out.get(r["series"], 0) + r["cnt"]
        return out

    assert counts() == {"s.a": 4 + 2 + 2 + 2, "s.b": 3}
    # adoption is idempotent: an adopted table is left as it is
    v = mf.latest_version(str(roll), store=store, key=STORE_TABLE)
    assert init_rollup_manifest(str(roll), store) == v
    assert _manifest_names(str(roll), store) == names

    # the fold takes the legacy file and stream-one's older batch; each
    # app's newest batch rides through
    assert compact_rollup(spark, str(roll), 3600, store) is not None
    assert counts() == {"s.a": 10, "s.b": 3}
    removed = vacuum_rollup(str(roll), store, keep_versions=1, min_age_seconds=0)
    assert len([n for n in removed if n.endswith(".parquet")]) == 1
    assert "b_stream-one_000000000002" in removed
    assert not list(roll.glob("*.parquet")) and not list(roll.glob(".*.parquet.crc"))
    # the legacy _SUCCESS marker and its checksum go with the last legacy
    # file: the root holds only the manifest and the listed entries
    assert "_SUCCESS" in removed
    on_disk = {p.name for p in roll.iterdir()} - {"_manifest"}
    assert on_disk == set(_manifest_names(str(roll), store))
    assert counts() == {"s.a": 10, "s.b": 3}


def test_manifested_uri_paths_guarded_and_hadoop_routed(spark, tmp_path, monkeypatch):
    """r13 review findings: (a) store=None + a URI rollup path must be
    REJECTED — the local link-CAS would mkdir relative 's3a:/...' junk;
    (b) with a store, vacuum/cleanup on a URI DATA location must route
    through the Hadoop FileSystem API instead of crashing on
    Path('s3a://...').iterdir() or silently no-op'ing shutil. Simulated by
    forcing the non-POSIX branch while the URI is a real file:// location
    Hadoop can serve."""
    from sydradb_spark import datafs

    roll_local = tmp_path / "roll"
    store = obs.MemoryObjectStore()
    write_rollup_batch(
        _mini_partial(spark, "s.a", 2), str(roll_local), 0, "stream-one", store=store
    )
    write_rollup_batch(
        _mini_partial(spark, "s.a", 2), str(roll_local), 1, "stream-one", store=store
    )
    compact_rollup(spark, str(roll_local), 3600, store)  # folds b_0

    uri = f"file://{roll_local}"
    real = datafs.local_path
    monkeypatch.setattr(
        datafs, "local_path", lambda p: None if p.startswith("file://") else real(p)
    )
    # (a) local protocol rejected on the 'object-store' location
    with pytest.raises(ValueError, match="object-store"):
        write_rollup_batch(
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
    fs = datafs.open_fs(uri, spark)
    assert isinstance(fs, datafs.HadoopFS)
    fs.delete("c_orphan")
    assert not (roll_local / "c_orphan").exists()
    # init_rollup_manifest: URI listing needs a session, then works
    with pytest.raises(ValueError, match="SparkSession"):
        init_rollup_manifest(uri, store)
    assert init_rollup_manifest(uri, store, spark=spark) is not None
    # data intact through it all
    folded = read_rollup(spark, str(roll_local), 3600, store).collect()
    assert folded[0]["cnt"] == 4


@pytest.mark.parametrize("lose", ["listing", "manifest_files"])
def test_vacuum_rollup_refuses_without_a_readable_version(spark, tmp_path, backend, lose, monkeypatch):
    """A committed entry survives a vacuum that finds no readable manifest
    version — whether the store's listing comes back empty or every file
    under ``_manifest/`` is gone. Without a keep-set the vacuum raises
    instead of reclaiming committed entries."""
    store = backend()
    roll = str(tmp_path / "roll")
    write_rollup_batch(_mini_partial(spark, "s.a", 2), roll, 0, "x", store=store)
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
