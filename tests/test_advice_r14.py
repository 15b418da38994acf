"""Round-14 advisor findings (ADVICE r13), each pinned:

1. rollup ``cnt_v`` read-compat — pre-r13 rollup tables (no cnt_v column)
   must stay readable, including MIXED tables (legacy + new files).
2. in-sink maintenance failures are logged with a consecutive count
   instead of being swallowed silently forever.
3. the zlit golden-vector oracle asserts driver/executor zlib parity and
   raises a clear diagnosis on build skew instead of a hash mismatch.
4. ``parse_ndjson``'s malformed-line drop is observable (Observation /
   streaming observedMetrics), and the reference-behavior comment is
   corrected (http.zig:678-682 panics on parsed-but-missing fields).
"""

from __future__ import annotations

import logging

import pytest

from sydradb_spark.rollup import build_rollup, ensure_rollup_compat


def _partial(spark, series: str, rows):
    pts = spark.createDataFrame(
        [(series, ts, v) for ts, v in rows],
        "series string, ts long, value double",
    ).selectExpr(
        "xxhash64(series) as series_id", "series",
        "map() as tags", "ts", "value",
        "cast(floor(ts/3600)*3600 as long) as hour_bucket",
    )
    return build_rollup(pts, step_s=3600)


# --- 1. cnt_v read-compat ---------------------------------------------------
def test_rollup_cnt_v_compat_legacy_only_table(spark, tmp_path):
    """A table written entirely before cnt_v existed is adopted, reads and
    folds; the synthesized cnt_v equals cnt (the pre-upgrade avg
    semantics)."""
    from sydradb_spark.streaming.rollup_stream import init_rollup_manifest, read_rollup

    roll = tmp_path / "roll"
    legacy = _partial(spark, "s.a", [(100, 1.0), (200, 3.0)]).drop("cnt_v")
    legacy.write.parquet(str(roll / "b_app-legacy_000000000000"))
    init_rollup_manifest(str(roll))
    folded = read_rollup(spark, str(roll), 3600).collect()
    assert len(folded) == 1
    assert folded[0]["cnt"] == 2 and folded[0]["cnt_v"] == 2
    assert folded[0]["sum_v"] == pytest.approx(4.0)


def test_rollup_cnt_v_compat_mixed_table_manifested(spark, tmp_path):
    """Legacy (no cnt_v) and new (null-bearing, cnt_v < cnt) entries in ONE
    manifested table: the fold must keep the new entry's real cnt_v and
    synthesize cnt for the legacy rows — not null either out."""
    from sydradb_spark.streaming.rollup_stream import init_rollup_manifest, read_rollup

    roll = tmp_path / "roll"
    legacy = _partial(spark, "s.a", [(100, 1.0), (200, 3.0)]).drop("cnt_v")
    legacy.write.parquet(str(roll / "b_app-legacy_000000000000"))
    new = _partial(spark, "s.a", [(300, 5.0), (400, None)])
    assert new.collect()[0]["cnt_v"] == 1  # the null is excluded
    new.write.parquet(str(roll / "b_app-new_000000000000"))
    init_rollup_manifest(str(roll))
    folded = read_rollup(spark, str(roll), 3600).collect()
    assert len(folded) == 1
    # legacy contributes cnt_v=cnt=2, new contributes cnt=2/cnt_v=1
    assert folded[0]["cnt"] == 4 and folded[0]["cnt_v"] == 3
    assert folded[0]["sum_v"] == pytest.approx(9.0)


def test_ensure_rollup_compat_null_coalesce(spark):
    """A cnt_v that IS present but null (legacy file under a merged schema)
    coalesces to cnt; real values pass through untouched."""
    df = spark.createDataFrame(
        [(1, 5, None), (2, 7, 6)], "series_id long, cnt long, cnt_v long"
    )
    got = {r["series_id"]: r["cnt_v"] for r in ensure_rollup_compat(df).collect()}
    assert got == {1: 5, 2: 6}


# --- 2. maintenance failures are observable ----------------------------------
def test_note_maintenance_failure_counts_and_rate_limits(caplog):
    from sydradb_spark.ingest import note_maintenance_failure, note_maintenance_ok

    state: dict = {}
    with caplog.at_level(logging.WARNING, logger="sydradb_spark.maintenance"):
        for _ in range(20):
            note_maintenance_failure(state, "unit", RuntimeError("boom"))
    assert state["maintenance_failures"] == 20
    # first 3 logged, then every 16th → 1,2,3,16 = 4 records
    assert len(caplog.records) == 4
    assert "20 consecutive" not in caplog.text and "16 consecutive" in caplog.text
    note_maintenance_ok(state)
    assert state["maintenance_failures"] == 0


def test_sink_maintenance_failure_logged_stream_survives(
    spark, tmp_path, monkeypatch, caplog
):
    """A persistently failing vacuum no longer fails silently: the stream
    completes (advisory maintenance) AND a warning names the failure."""
    from sydradb_spark import ingest as ing
    from sydradb_spark import manifest as mf
    from sydradb_spark.storage import read_points

    def boom(*a, **k):
        raise OSError("store permissions")

    monkeypatch.setattr(mf, "prune_versions", boom)
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.ndjson").write_text('{"series": "m.x", "ts": 100, "value": 1.0}\n')
    tbl, ck = str(tmp_path / "tbl"), str(tmp_path / "ck")

    def run():
        raw = spark.readStream.schema(ing.NDJSON_SCHEMA).json(str(src))
        q = ing.stream_points_sink(
            ing.parse_ndjson(raw), tbl, ck, maintenance_every=1
        )
        q.awaitTermination(120)

    with caplog.at_level(logging.WARNING, logger="sydradb_spark.maintenance"):
        run()  # batch 0 — below the boundary
        (src / "b.ndjson").write_text('{"series": "m.x", "ts": 200, "value": 2.0}\n')
        run()  # batch 1 — boundary: vacuum raises, gets logged, sink survives
    assert read_points(spark, tbl).count() == 2
    assert any("vacuum_points" in r.getMessage() for r in caplog.records)


# --- 3. zlib parity probe -----------------------------------------------------
def test_zlib_parity_probe_passes_and_diagnoses_skew(spark, monkeypatch):
    from sydradb_spark.contract import pipeline as cp

    cp._ZLIB_PARITY_OK.clear()
    cp._assert_zlib_parity(spark)  # single-JVM: driver == executor
    app = spark.sparkContext.applicationId
    assert cp._ZLIB_PARITY_OK[app]

    # simulate a zlib-ng executor: driver expectations shift by one byte
    cp._ZLIB_PARITY_OK.clear()
    real = cp._zlit_expected()
    skew = [(n, nb, (nc + 1) if nc else nc, r) for n, nb, nc, r in real]
    monkeypatch.setattr(cp, "_zlit_expected", lambda: skew)
    with pytest.raises(RuntimeError, match="zlib build skew"):
        cp._assert_zlib_parity(spark)
    monkeypatch.undo()
    cp._ZLIB_PARITY_OK.clear()
    cp._assert_zlib_parity(spark)  # clean state for other tests


# --- 4. observable malformed-line drops ---------------------------------------
def test_parse_ndjson_batch_drop_observation(spark, tmp_path):
    from pyspark.sql import Observation

    from sydradb_spark.ingest import read_ndjson

    p = tmp_path / "in.ndjson"
    p.write_text(
        '{"series": "s.a", "ts": 100, "value": 1.0}\n'
        '{"series": "s.a", "ts": 200, "value": 2.0}\n'
        '{"ts": 300, "value": 3.0}\n'          # missing series
        '{"series": "s.b", "value": 4.0}\n'    # missing ts
        'not json at all\n'                     # unparseable → all-null row
    )
    obs = Observation("drops")
    out = read_ndjson(spark, str(p), observe_drops=obs)
    assert out.count() == 2
    got = obs.get
    assert got["input_rows"] == 5 and got["dropped_malformed"] == 3


def test_stream_ndjson_drop_counts_in_progress(spark, tmp_path):
    from sydradb_spark.ingest import stream_ndjson
    from sydradb_spark.storage import read_points

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.ndjson").write_text(
        '{"series": "s.a", "ts": 100, "value": 1.0}\n'
        '{"ts": 300, "value": 3.0}\n'  # dropped
    )
    q = stream_ndjson(spark, str(src), str(tmp_path / "tbl"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    assert read_points(spark, str(tmp_path / "tbl")).count() == 1
    progresses = q.recentProgress
    seen = {}
    for p in progresses:
        om = p["observedMetrics"] if isinstance(p, dict) else p.observedMetrics
        if om and "sydra_ingest" in om:
            row = om["sydra_ingest"]
            seen = {
                "input_rows": row["input_rows"],
                "dropped_malformed": row["dropped_malformed"],
            }
    assert seen == {"input_rows": 2, "dropped_malformed": 1}
