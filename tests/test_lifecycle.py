"""Storage / compaction / retention / tag-find / ingest / API-shape tests."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sydradb_spark import api, storage, tagindex
from sydradb_spark.ingest import ingest_batch, stream_ndjson
from sydradb_spark.sydraql.engine import SydraQLEngine


@pytest.fixture()
def stored(tmp_path, spark, points):
    path = str(tmp_path / "points")
    storage.write_points(points, path)
    return path


def test_write_read_roundtrip(spark, points, stored):
    back = storage.read_points(spark, stored)
    assert back.count() == points.count()
    assert [f.name for f in back.schema.fields[:6]] == [
        "series_id", "series", "tags", "ts", "value", "hour_bucket",
    ]
    assert dict(back.dtypes)["hour_bucket"] == "bigint"


def test_scan_range_prunes_partitions(spark, points, stored):
    scanned = storage.scan_range(spark, stored, start=1_000_000, end=1_003_000)
    plan = scanned._jdf.queryExecution().executedPlan().toString()
    assert "hour_bucket" in plan  # partition filter reached the scan
    # rows: correctness of the pruned read
    expected = points.where((F.col("ts") >= 1_000_000) & (F.col("ts") <= 1_003_000)).count()
    assert scanned.count() == expected > 0


def test_sydraql_scan_derives_partition_bounds(spark, points, stored):
    """The translator adds hour_bucket bounds from WHERE time bounds
    (SURVEY §4.1) so stored-table queries partition-prune."""
    eng = SydraQLEngine(spark, storage_path=stored)
    res = eng.query(
        "select time, value from cpu.total where time >= 1000000 and time < 1003000"
    )
    optimized = res.df._jdf.queryExecution().optimizedPlan().toString()
    assert "hour_bucket" in optimized
    assert res.df.count() > 0


def test_compaction_last_wins(spark, points):
    # conftest plants a duplicate (series_id, ts) pair; last-wins by max value
    dups = (
        points.groupBy("series_id", "ts").count().where("count > 1").count()
    )
    assert dups >= 1
    compacted = storage.compact_points(points)
    assert compacted.groupBy("series_id", "ts").count().where("count > 1").count() == 0
    assert compacted.count() == points.dropDuplicates(["series_id", "ts"]).count()


def test_retention_filter_and_partition_drop(spark, points, tmp_path, stored):
    now = 1_000_000 + 30 * 86400  # 30 days past the fixture timeline
    kept = storage.apply_retention(points, now, {"cpu": 0}, default_days=999)
    assert kept.where(F.col("series").startswith("cpu.")).count() == 0
    assert kept.where(~F.col("series").startswith("cpu.")).count() > 0

    # global partition drop: cutoff after every fixture hour → all buckets go.
    # On a manifest table the drop is a metadata commit; physical dirs stay
    # until vacuum (and the pre-drop version remains time-travel readable).
    from sydradb_spark import manifest as mf

    dropped = storage.drop_expired_partitions(stored, cutoff_hour_bucket=10**10)
    assert dropped
    assert storage.read_points(spark, stored).count() == 0
    assert mf.read_files(stored) == []
    storage.vacuum_points(stored, keep_versions=1, min_age_seconds=0)
    assert all(not d.startswith("hour_bucket=") for d in os.listdir(stored))


def test_tag_find_and_or(spark, points):
    both = tagindex.find_series(points, {"host": "a", "env": "prod"}, mode="and")
    any_ = tagindex.find_series(points, {"host": "a", "env": "prod"}, mode="or")
    and_ids = {r["series_id"] for r in both.collect()}
    or_ids = {r["series_id"] for r in any_.collect()}
    assert and_ids and and_ids <= or_ids
    # verify against direct tag predicates
    direct_and = {
        r["series_id"]
        for r in points.where(
            (F.col("tags")["host"] == "a") & (F.col("tags")["env"] == "prod")
        ).select("series_id").distinct().collect()
    }
    assert and_ids == direct_and


def test_tag_index_shape(points):
    idx = {r["tag_kv"]: r["series_ids"] for r in tagindex.tag_index(points).collect()}
    assert any(k.startswith("host=") for k in idx)
    assert all(isinstance(v, list) and v == sorted(v) for v in idx.values())


def test_ingest_batch_roundtrip(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {"series": "weather.room1", "ts": 1000, "value": 24.2},
        {"series": "weather.room1", "ts": 2000, "value": 24.3, "tags": {"host": "a"}},
    ]
    (src / "a.ndjson").write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    table = str(tmp_path / "table")
    ingest_batch(spark, str(src), table)
    eng = SydraQLEngine(spark, storage_path=table)
    got = eng.query(
        "select time, value from weather.room1 where time >= 0 and time < 10000"
    ).df.collect()
    assert [(r["time"], r["value"]) for r in got] == [(1000, 24.2), (2000, 24.3)]


def test_streaming_ingest(spark, tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    (src / "b1.ndjson").write_text(
        '{"series": "s.x", "ts": 100, "value": 1.0}\n'
        '{"series": "s.x", "ts": 3700, "value": 2.0}\n'
    )
    table = str(tmp_path / "stream_table")
    q = stream_ndjson(spark, str(src), table, str(tmp_path / "ckpt"))
    q.awaitTermination(60)
    back = storage.read_points(spark, table)
    assert back.count() == 2
    assert {r["hour_bucket"] for r in back.collect()} == {0, 3600}
    # second micro-batch: new file, restart from checkpoint, no reprocessing
    (src / "b2.ndjson").write_text('{"series": "s.x", "ts": 200, "value": 3.0}\n')
    q2 = stream_ndjson(spark, str(src), table, str(tmp_path / "ckpt"))
    q2.awaitTermination(60)
    assert storage.read_points(spark, table).count() == 3


def test_insert_delete_durable(spark, tmp_path):
    src = tmp_path / "seed"
    src.mkdir()
    (src / "s.ndjson").write_text('{"series": "m.a", "ts": 1000, "value": 1.0}\n')
    table = str(tmp_path / "t")
    ingest_batch(spark, str(src), table)

    eng = SydraQLEngine(spark, storage_path=table)
    eng.query("insert into m.a (time, value) values (2000, 2.0)")
    eng.query("delete from m.a where time >= 0 and time < 1500")
    # fresh engine == restart: only disk state
    eng2 = SydraQLEngine(spark, storage_path=table)
    got = eng2.query("select time, value from m.a where time >= 0 and time < 9000").df.collect()
    assert [(r["time"], r["value"]) for r in got] == [(2000, 2.0)]


def test_api_response_shape(spark, points):
    eng = SydraQLEngine(spark, points)
    res = eng.query(
        "select time, value from cpu.total where time >= 1000000 and time < 1100000 limit 2"
    )
    resp = api.to_response(res)
    assert [c["name"] for c in resp["columns"]] == ["time", "value"]
    assert resp["columns"][0]["type"] == "bigint"
    assert len(resp["rows"]) == 2
    assert resp["stats"]["rows_returned"] == 2
    assert {"parse_us", "validate_us", "plan_us", "execute_us"} <= set(resp["stats"])


def test_api_per_operator_stats(spark, points):
    """The stats block reports EVERY executed-plan operator with row counts
    (reference operator.zig:166-184) — a filter and an aggregate must both
    appear, not just the scan leaves."""
    eng = SydraQLEngine(spark, points)
    res = eng.query(
        "select time_bucket(3600, time) as b, avg(value) as a from cpu.total "
        "where time >= 1000000 and time < 1100000 and value > 150 "
        "group by time_bucket(3600, time)"
    )
    resp = api.to_response(res)
    ops = resp["stats"]["operators"]
    names = [o["name"] for o in ops]
    filters = [o for o in ops if "Filter" in o["name"]]
    aggs = [o for o in ops if "Aggregate" in o["name"]]
    assert filters and aggs, f"plan nodes missing from stats: {names}"
    assert any(o["rows_out"] is not None for o in filters)
    assert any(o["rows_out"] is not None for o in aggs)
    # leaves-first ordering: the scan appears before the final aggregate
    scan_i = min(i for i, n in enumerate(names) if "Scan" in n or "Exists" in n)
    agg_i = max(i for i, n in enumerate(names) if "Aggregate" in n)
    assert scan_i < agg_i


def test_snapshot_restore(spark, tmp_path, points):
    table = str(tmp_path / "live")
    storage.write_points(points, table)
    n0 = storage.read_points(spark, table).count()

    snap = str(tmp_path / "snap")
    storage.snapshot(table, snap)
    with pytest.raises(FileExistsError):
        storage.snapshot(table, snap)

    # destructive change (all partitions dropped), then restore
    assert storage.drop_expired_partitions(table, cutoff_hour_bucket=10**10)
    storage.restore(snap, table)
    assert storage.read_points(spark, table).count() == n0


def test_salted_agg_matches_direct(spark, points):
    from sydradb_spark.util import salted_agg

    direct = {
        (r["series"],): (r["n"], r["mx"], r["sm"])
        for r in points.groupBy("series")
        .agg(F.count("*").alias("n"), F.max("value").alias("mx"), F.sum("value").alias("sm"))
        .collect()
    }
    salted = {
        (r["series"],): (r["n"], r["mx"], r["sm"])
        for r in salted_agg(
            points,
            ["series"],
            {
                "n": (F.count("*"), F.sum("n")),
                "mx": (F.max("value"), F.max("mx")),
                "sm": (F.sum("value"), F.sum("sm")),
            },
        ).collect()
    }
    assert set(direct) == set(salted)
    for k in direct:
        assert direct[k][0] == salted[k][0] and direct[k][1] == salted[k][1]
        assert abs(direct[k][2] - salted[k][2]) < 1e-6


def test_drop_hot_keys_semantics_and_plan(spark):
    """The hot-key guard must (a) drop exactly the keys above the cap —
    including a hot NULL key (null-safe join semantics), and (b) never
    plan a broadcast of the counts frame OR a single-task window over the
    keys: the static plan is a ShuffledHashJoin (anti), so a degenerate
    key can neither OOM the driver (r07's Catalyst mis-broadcast) nor
    straggle one task (the r07 window shape this replaces)."""
    from sydradb_spark.util import drop_hot_keys

    rows = [("hot", i) for i in range(50)]
    rows += [("warm", i) for i in range(3)]
    rows += [(None, i) for i in range(50)]  # hot NULL key
    rows += [("cold", 0)]
    df = spark.createDataFrame(rows, "k string, v long")
    out = drop_hot_keys(df, ["k"], max_n=10)
    kept = {(r["k"], r["v"]) for r in out.collect()}
    assert kept == {("warm", i) for i in range(3)} | {("cold", 0)}
    plan = out._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" not in plan and "BroadcastExchange" not in plan
    assert "ShuffledHashJoin" in plan, plan[:1500]
    assert "Window" not in plan


def test_range_response_shape(spark, points, stored):
    sid = points.where(F.col("series") == "cpu.total").select("series_id").first()[0]
    # end-inclusive, like the reference queryRange [start, end]
    out = storage.scan_range(
        spark, stored, series_id=sid, start=1_000_000, end=1_000_045
    ).orderBy("ts", "value")
    assert [r["ts"] for r in out.collect()] == [
        1_000_000, 1_000_000, 1_000_015, 1_000_030, 1_000_045
    ]


def test_csv_ingest(spark, tmp_path):
    from sydradb_spark.ingest import read_csv_points

    p = tmp_path / "pts.csv"
    p.write_text(
        'series,ts,value,tags\n'
        'weather.room1,1000,24.2,\n'
        'weather.room1,2000,24.3,"{""host"": ""a""}"\n'
    )
    pts = read_csv_points(spark, str(p)).orderBy("ts").collect()
    assert [(r["series"], r["ts"], r["value"]) for r in pts] == [
        ("weather.room1", 1000, 24.2),
        ("weather.room1", 2000, 24.3),
    ]
    assert pts[1]["tags"] == {"host": "a"} and pts[0]["tags"] == {}
    assert pts[0]["hour_bucket"] == 0 and pts[1]["hour_bucket"] == 0


def test_null_values_through_engine(spark, tmp_path):
    """NDJSON rows without a value land as null points: count(value) skips
    them, avg ignores them, fill_forward patches them (SQL null semantics,
    sydraql-design.md:139)."""
    src = tmp_path / "nulls"
    src.mkdir()
    (src / "n.ndjson").write_text(
        '{"series": "n.s", "ts": 100, "value": 1.0}\n'
        '{"series": "n.s", "ts": 200}\n'
        '{"series": "n.s", "ts": 300, "value": 3.0}\n'
    )
    table = str(tmp_path / "ntable")
    ingest_batch(spark, str(src), table)
    eng = SydraQLEngine(spark, storage_path=table)
    row = eng.query(
        "select count() as n, count(value) as nv, avg(value) as a "
        "from n.s where time >= 0 and time < 1000"
    ).df.collect()[0]
    assert (row["n"], row["nv"], row["a"]) == (3, 2, 2.0)
    ff = eng.query(
        "select time, fill_forward(value) as v from n.s where time >= 0 and time < 1000"
    ).df.collect()
    assert [(r["time"], r["v"]) for r in ff] == [(100, 1.0), (200, 1.0), (300, 3.0)]


def test_cluster_conf_shape():
    from sydradb_spark.session import cluster_conf

    conf = cluster_conf()
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert int(conf["spark.sql.shuffle.partitions"]) >= 200
    assert int(conf["spark.sql.files.maxPartitionBytes"]) == 128 * 1024 * 1024


def test_tag_find_repeated_key_or(spark, points):
    got = {
        r["series_id"]
        for r in tagindex.find_series(
            points, [("host", "a"), ("host", "b")], mode="or"
        ).collect()
    }
    direct = {
        r["series_id"]
        for r in points.where(F.col("tags")["host"].isin("a", "b"))
        .select("series_id").distinct().collect()
    }
    assert got == direct and got


def test_prometheus_metrics_text(spark, points, tmp_path):
    """Counters + storage gauges render in Prometheus exposition format
    (reference handleMetrics, http.zig:452-477)."""
    from sydradb_spark import metrics

    metrics.reset()
    eng = SydraQLEngine(spark, points)
    eng.query("select count() as n from cpu.total where time >= 0 and time < 2000000")
    eng.query("insert into m.x (time, value) values (1, 1.0), (2, 2.0)")
    with pytest.raises(Exception):
        eng.query("select bogus_fn(value) from cpu.total where time >= 0 and time < 1")

    table = str(tmp_path / "mtable")
    storage.write_points(points, table)
    text = metrics.to_prometheus_text(storage_path=table)

    assert "# TYPE sydra_queries_total counter" in text
    assert "sydra_queries_total 2" in text
    assert "sydra_query_errors_total 1" in text
    assert "sydra_inserts_total 1" in text
    assert "sydra_points_ingested_total 2" in text
    assert "# TYPE sydra_storage_partitions gauge" in text
    n_parts = len(list((tmp_path / "mtable").glob("hour_bucket=*")))
    assert f"sydra_storage_partitions {n_parts}" in text
    assert "sydra_storage_bytes" in text


def test_cli_maintenance_commands(spark, tmp_path, capsys):
    """The CLI maintenance surface end-to-end: write, optimize, snapshot,
    destructive change, restore, vacuum — each emitting its JSON receipt."""
    import json as _json

    from sydradb_spark.__main__ import main
    from sydradb_spark.model import with_identity
    from sydradb_spark.storage import read_points, write_points

    table = str(tmp_path / "cli_table")
    rows = [("c.s", {}, 100 + i, float(i)) for i in range(6)]
    df = with_identity(
        spark.createDataFrame(
            rows, "series string, tags map<string,string>, ts long, value double"
        )
    )
    # several appends → several small files in hour 0
    for i in range(3):
        write_points(df.limit(2 + i), table, mode="append")

    assert main(["optimize", "--storage", table, "--max-files", "1"], spark=spark) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["optimized_hour_buckets"] == [0]

    # the merge superseded the small files — vacuum must actually remove
    # them (run while superseded versions exist; after restore the manifest
    # is fresh and a zero-removal vacuum would be correct but vacuous)
    assert main(
        ["vacuum", "--storage", table, "--keep-versions", "1", "--min-age-seconds", "0"],
        spark=spark,
    ) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["removed"] > 0
    # live data untouched by the vacuum (3 appends of 2+3+4 rows)
    assert read_points(spark, table).count() == 9

    snap_dest = str(tmp_path / "cli_snap")
    assert main(["snapshot", "--storage", table, snap_dest], spark=spark) == 0
    capsys.readouterr()
    before = read_points(spark, table).count()

    write_points(df.limit(1), table, mode="append")  # diverge
    assert read_points(spark, table).count() == before + 1

    assert main(["restore", snap_dest, "--storage", table], spark=spark) == 0
    capsys.readouterr()
    assert read_points(spark, table).count() == before


def test_cli_retention(spark, tmp_path, capsys):
    import json as _json

    from sydradb_spark.__main__ import main
    from sydradb_spark.model import with_identity
    from sydradb_spark.storage import read_points, write_points

    table = str(tmp_path / "ret_table")
    rows = [("r.s", {}, ts, 1.0) for ts in (100, 3700, 7300, 500000)]
    df = with_identity(
        spark.createDataFrame(
            rows, "series string, tags map<string,string>, ts long, value double"
        )
    )
    write_points(df, table, mode="append")
    # now=500000, ttl ~5.67 days keeps everything; ttl tiny drops old hours
    assert main(
        ["retention", "--storage", table, "--ttl-days", "0.1", "--now", "500000"],
        spark=spark,
    ) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["dropped_hour_buckets"] == [0, 3600, 7200]
    left = sorted(r["ts"] for r in read_points(spark, table).collect())
    assert left == [500000]


# --- r13 protocol-review fixes -------------------------------------------------
def _pts_df(spark, rows):
    """rows: (series, ts, value) → canonical points shape."""
    return spark.createDataFrame(
        rows, "series string, ts long, value double"
    ).selectExpr(
        "xxhash64(series) as series_id", "series",
        "map() as tags", "ts", "value",
        "cast(floor(ts/3600)*3600 as long) as hour_bucket",
    )


def test_overwrite_on_live_manifested_table_is_a_manifest_flip(spark, tmp_path):
    """r13 review: mode='overwrite' on a manifested table used to let Spark
    truncate the whole path — _manifest/, version history, and every app's
    txn ledger included. It is now a staged write + full-replacement
    manifest commit: history and ledgers survive, readers flip atomically,
    old files stay until vacuum."""
    from sydradb_spark import manifest as mf

    path = str(tmp_path / "tbl")
    storage.write_points(_pts_df(spark, [("s.a", 100, 1.0)]), path)
    storage.write_points(
        _pts_df(spark, [("s.a", 200, 2.0)]), path, mode="append",
        txn=("stream-one", 7),
    )
    v_before = mf.latest_version(path)
    old_files = set(mf.read_files(path))
    storage.write_points(_pts_df(spark, [("s.b", 300, 3.0)]), path, mode="overwrite")
    # manifest history intact: next version, not a rebuilt v1
    assert mf.latest_version(path) == v_before + 1
    # the replay guard survives the overwrite
    assert mf.read_txn(path, "stream-one") == 7
    # LATEST is exactly the new data
    back = storage.read_points(spark, path)
    assert [(r["series"], r["ts"]) for r in back.collect()] == [("s.b", 300)]
    # old files still on disk (time travel until vacuum), just unreferenced
    assert all((tmp_path / "tbl" / f).exists() for f in old_files)
    assert storage.read_points(spark, path, version=v_before).count() == 2


def test_delete_where_commit_spares_concurrent_appends(spark, tmp_path, monkeypatch):
    """r13 review: the DELETE's manifest mutate must drop EXACTLY the files
    its rewrite read — a file committed concurrently into an affected hour
    (rows the predicate never evaluated) has to ride through the commit."""
    from sydradb_spark import manifest as mf

    path = str(tmp_path / "tbl")
    storage.write_points(
        _pts_df(spark, [("s.a", 100, 1.0), ("s.a", 200, 2.0)]), path
    )
    captured = {}
    real_commit = mf.commit

    def spy(p, files=None, *, mutate=None, **kw):
        if mutate is not None:
            captured["mutate"] = mutate
        return real_commit(p, files, mutate=mutate, **kw)

    monkeypatch.setattr(mf, "commit", spy)
    storage.delete_where(
        spark, path, F.col("value") >= 2.0, ts_min=0, ts_max=4000
    )
    back = storage.read_points(spark, path)
    assert [r["value"] for r in back.collect()] == [1.0]
    # replay the captured mutate against a list holding a concurrent
    # appender's file in the SAME affected partition: it must survive
    concurrent = "hour_bucket=0/part-concurrent-xyz.parquet"
    out = captured["mutate"]([concurrent])
    assert concurrent in out


def test_compact_points_all_null_value_group_keeps_identity(spark):
    """r13 review: a (series_id, ts) duplicate group whose every value is
    null must keep ONE intact row — max_by over the bare value returned a
    NULL row struct and wrote an identity-destroyed all-null row."""
    df = _pts_df(spark, [("s.a", 100, None), ("s.a", 100, None), ("s.b", 50, 5.0)])
    out = {r["series"]: r for r in storage.compact_points(df).collect()}
    assert out["s.a"]["ts"] == 100 and out["s.a"]["value"] is None
    assert out["s.a"]["series_id"] is not None
    assert out["s.b"]["value"] == 5.0


def test_snapshot_carries_txn_ledger(spark, tmp_path):
    """r13 review: restoring a snapshot without the txn ledger erases the
    streaming replay guard — a checkpoint-replayed batch re-appends."""
    from sydradb_spark import manifest as mf

    path = str(tmp_path / "tbl")
    storage.write_points(_pts_df(spark, [("s.a", 100, 1.0)]), path)
    storage.write_points(
        _pts_df(spark, [("s.a", 200, 2.0)]), path, mode="append",
        txn=("stream-one", 3),
    )
    dest = str(tmp_path / "snap")
    storage.snapshot(path, dest)
    assert mf.read_txn(dest, "stream-one") == 3
    storage.restore(dest, path)
    # the replayed batch is still a no-op after restore
    storage.write_points(
        _pts_df(spark, [("s.a", 200, 2.0)]), path, mode="append",
        txn=("stream-one", 3),
    )
    assert storage.read_points(spark, path).count() == 2  # not 3
