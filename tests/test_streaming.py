"""Structured Streaming: rollup maintenance + custom stateful EMA."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sydradb_spark.streaming.rollup_stream import (
    compact_rollup,
    read_rollup,
    stream_rollup,
    vacuum_rollup,
)
from sydradb_spark.streaming.stateful import streaming_ema


def test_stream_rollup_fold(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # two points in hour 0, one in hour 1
    (src / "b1.ndjson").write_text(
        '{"series": "s.a", "ts": 100, "value": 1.0}\n'
        '{"series": "s.a", "ts": 200, "value": 3.0}\n'
        '{"series": "s.a", "ts": 3700, "value": 5.0}\n'
    )
    rollup_path = str(tmp_path / "rollup")
    q = stream_rollup(spark, str(src), rollup_path, str(tmp_path / "ck"))
    q.awaitTermination(60)
    # late batch into the SAME hour bucket → a second partial row to fold
    (src / "b2.ndjson").write_text('{"series": "s.a", "ts": 150, "value": 7.0}\n')
    q2 = stream_rollup(spark, str(src), rollup_path, str(tmp_path / "ck"))
    q2.awaitTermination(60)

    folded = {r["bucket"]: r for r in read_rollup(spark, rollup_path, 3600).collect()}
    assert folded[0]["cnt"] == 3 and folded[0]["sum_v"] == pytest.approx(11.0)
    assert folded[0]["first_v"] == 1.0 and folded[0]["last_v"] == 3.0  # ts 200 > 150
    assert folded[3600]["cnt"] == 1 and folded[3600]["last_v"] == 5.0

    compact_rollup(spark, rollup_path, 3600)
    refolded = {r["bucket"]: r for r in read_rollup(spark, rollup_path, 3600).collect()}
    assert refolded[0]["cnt"] == 3 and refolded[0]["sum_v"] == pytest.approx(11.0)
    assert refolded[3600]["cnt"] == 1
    # everything except the newest (still-replayable) batch dir is folded;
    # the folded dir stays on disk until a vacuum reclaims it
    import pathlib

    def on_disk(prefix):
        return [p for p in pathlib.Path(rollup_path).glob(prefix) if p.is_dir()]

    assert len(on_disk("b_*")) == 2 and len(on_disk("c_*")) == 1
    vacuum_rollup(rollup_path, keep_versions=1, min_age_seconds=0)
    assert len(on_disk("b_*")) == 1  # only the newest batch survives unfolded
    assert spark.read.parquet(*[str(p) for p in on_disk("c_*")]).count() == 2


def test_streaming_ema_state_across_batches(spark, tmp_path):
    src = tmp_path / "ema_src"
    src.mkdir()
    (src / "b1.ndjson").write_text(
        '{"series_id": 1, "ts": 1, "value": 2.0}\n'
        '{"series_id": 1, "ts": 2, "value": 4.0}\n'
    )
    stream = (
        spark.readStream.schema("series_id long, ts long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out_path, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        streaming_ema(stream, alpha=0.5)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(90)
    # second file → second run resumes from checkpointed state
    (src / "b2.ndjson").write_text('{"series_id": 1, "ts": 3, "value": 8.0}\n')
    q2 = (
        streaming_ema(stream, alpha=0.5)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(90)

    rows = {r["ts"]: r["ema"] for r in spark.read.parquet(out_path).collect()}
    assert rows[1] == pytest.approx(2.0)
    assert rows[2] == pytest.approx(3.0)   # 0.5*4 + 0.5*2
    assert rows[3] == pytest.approx(5.5)   # 0.5*8 + 0.5*3 — state crossed batches


def test_windowed_agg_drops_late_beyond_watermark(spark, tmp_path):
    from sydradb_spark.streaming.windowed import windowed_agg

    src = tmp_path / "w_src"
    src.mkdir()
    emitted: list = []

    def run_once():
        stream = (
            spark.readStream.schema("series_id long, ts long, value double")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            windowed_agg(stream, window="1 hour", watermark="10 minutes")
            .writeStream.outputMode("update")
            .foreachBatch(lambda b, _id: emitted.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / "w_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(90)

    # batch 1: two rows in window [0, 3600)
    (src / "f1.ndjson").write_text(
        '{"series_id": 1, "ts": 100, "value": 1.0}\n'
        '{"series_id": 1, "ts": 200, "value": 2.0}\n'
    )
    run_once()
    got = {(r["series_id"], r["bucket"]): r["cnt"] for r in emitted}
    assert got[(1, 0)] == 2

    # batch 2: far-future row advances the watermark well past window [0,3600)
    (src / "f2.ndjson").write_text('{"series_id": 1, "ts": 100000, "value": 9.0}\n')
    run_once()

    # batch 3: a late row for the now-closed window → dropped by the watermark
    emitted.clear()
    (src / "f3.ndjson").write_text('{"series_id": 1, "ts": 300, "value": 99.0}\n')
    run_once()
    late_updates = [r for r in emitted if r["bucket"] == 0]
    assert late_updates == []  # the closed window was never updated again


def test_parse_kafka_values(spark):
    """Kafka value parsing (broker-less): binary NDJSON payloads in a
    Kafka-shaped frame come out as canonical identified points."""
    from sydradb_spark.ingest import parse_kafka_values

    raw = spark.createDataFrame(
        [
            (b'{"series": "k.cpu", "ts": 1000, "value": 1.5, "tags": {"h": "a"}}',),
            (b'{"series": "k.cpu", "ts": 1060, "value": 2.5}',),
        ],
        "value binary",
    )
    out = parse_kafka_values(raw).orderBy("ts").collect()
    assert [r["ts"] for r in out] == [1000, 1060]
    assert out[0]["tags"] == {"h": "a"} and out[1]["tags"] == {}
    assert out[0]["series_id"] is not None and out[0]["hour_bucket"] == 0


def test_kafka_chain_end_to_end(spark, tmp_path):
    """VERDICT r05 item 6: drive the full Kafka ingest chain —
    parse_kafka_values → stream_points_sink foreachBatch → durable
    hour-partitioned table — end-to-end over a STREAMING source. No broker
    in the sandbox, so the source is a file stream reshaped to the Kafka
    record schema (binary `value` plus the metadata columns); everything
    downstream of .format("kafka").load() is exactly stream_kafka_ingest's
    composition."""
    import json

    from pyspark.sql import functions as F

    from sydradb_spark.ingest import parse_kafka_values, stream_points_sink
    from sydradb_spark.storage import read_points

    src = tmp_path / "ksrc"
    src.mkdir()
    lines = [
        {"series": "k.e2e", "ts": 1000, "value": 1.5, "tags": {"h": "a"}},
        {"series": "k.e2e", "ts": 4600, "value": 2.5},
        {"series": "k.other", "ts": 1000, "value": 10.0},
    ]
    (src / "part0.txt").write_text("\n".join(json.dumps(x) for x in lines) + "\n")

    # Kafka record shape: value binary + key/topic/partition/offset metadata
    raw = (
        spark.readStream.text(str(src))
        .select(
            F.encode(F.col("value"), "UTF-8").alias("value"),
            F.lit(None).cast("binary").alias("key"),
            F.lit("points").alias("topic"),
            F.lit(0).alias("partition"),
            F.lit(0).cast("long").alias("offset"),
        )
    )
    table = str(tmp_path / "ktable")
    q = stream_points_sink(
        parse_kafka_values(raw), table, str(tmp_path / "kckpt"), available_now=True
    )
    q.awaitTermination()

    stored = read_points(spark, table)
    rows = {(r["series"], r["ts"]): r for r in stored.collect()}
    assert set(rows) == {("k.e2e", 1000), ("k.e2e", 4600), ("k.other", 1000)}
    assert rows[("k.e2e", 1000)]["tags"] == {"h": "a"}
    assert rows[("k.e2e", 4600)]["tags"] == {}
    # hour partitioning survived the streaming write (ts 4600 → hour 3600)
    assert rows[("k.e2e", 4600)]["hour_bucket"] == 3600
    # the second drain is a no-op (checkpoint offsets, not re-ingestion)
    q2 = stream_points_sink(
        parse_kafka_values(raw), table, str(tmp_path / "kckpt"), available_now=True
    )
    q2.awaitTermination()
    assert read_points(spark, table).count() == 3


def test_stream_ingest_dedupe_watermark(spark, tmp_path):
    """dedupe_watermark drops producer-retry duplicates within the
    event-time horizon: a line repeated across source files lands once,
    distinct points all land, and (series, ts) pairs with DIFFERENT values
    are both kept (dedup key includes value — it suppresses retries, not
    legitimate revisions; compaction's last-wins handles those)."""
    import json
    import os
    import time as _time

    from sydradb_spark.ingest import stream_ndjson
    from sydradb_spark.storage import read_points

    src = tmp_path / "dsrc"
    src.mkdir()
    a = {"series": "d.s", "ts": 1000, "value": 1.0}
    b = {"series": "d.s", "ts": 1060, "value": 2.0}
    c = {"series": "d.s", "ts": 1120, "value": 3.0}
    rev = {"series": "d.s", "ts": 1060, "value": 9.0}  # revision, kept
    (src / "f0.ndjson").write_text("\n".join(map(json.dumps, [a, b])) + "\n")
    (src / "f1.ndjson").write_text("\n".join(map(json.dumps, [a, c, rev])) + "\n")
    os.utime(src / "f0.ndjson", (1, 1))
    os.utime(src / "f1.ndjson", (2, 2))
    _time.sleep(0.01)

    table = str(tmp_path / "dtable")
    q = stream_ndjson(
        spark,
        str(src),
        table,
        str(tmp_path / "dckpt"),
        available_now=True,
        dedupe_watermark="1 hour",
    )
    q.awaitTermination()
    rows = sorted(
        (r["ts"], r["value"]) for r in read_points(spark, table).collect()
    )
    assert rows == [(1000, 1.0), (1060, 2.0), (1060, 9.0), (1120, 3.0)]


def test_sessionize_batch_semantics(spark):
    from sydradb_spark.streaming.windowed import sessionize

    rows = [
        ("a", 0, 1.0),
        ("a", 100, 2.0),
        ("a", 650, 3.0),   # 550s gap — same session
        ("a", 1800, 4.0),  # 1150s gap — new session
        ("b", 5000, 9.0),
    ]
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    out = {
        (r["series"], r["session_start"]): r
        for r in sessionize(df, gap_s=600).collect()
    }
    assert out[("a", 0)]["n_events"] == 3
    assert out[("a", 0)]["session_end"] == 650 + 600
    assert out[("a", 0)]["sum_v"] == pytest.approx(6.0)
    assert out[("a", 1800)]["n_events"] == 1
    assert out[("a", 1800)]["session_end"] == 2400
    assert out[("b", 5000)]["n_events"] == 1
    # boundary: a gap of exactly 600 MERGES (session windows merge when they
    # touch: next.start <= prev.end), pinning the >gap→break contract the
    # oracle mirrors
    df2 = spark.createDataFrame(
        [("c", 0, 1.0), ("c", 600, 1.0), ("c", 1201, 1.0)],
        "series string, ts long, value double",
    )
    starts = sorted(r["session_start"] for r in sessionize(df2, gap_s=600).collect())
    assert starts == [0, 1201]


def test_sessionize_stream_equals_batch(spark, tmp_path):
    import json

    from sydradb_spark.streaming.windowed import sessionize

    src = tmp_path / "sess_src"
    src.mkdir()
    data = [
        {"series": "a", "ts": 0, "value": 1.0},
        {"series": "a", "ts": 100, "value": 2.0},
        {"series": "a", "ts": 650, "value": 3.0},
        {"series": "a", "ts": 1800, "value": 4.0},
        {"series": "b", "ts": 50, "value": 9.0},
    ]
    (src / "f1.ndjson").write_text("\n".join(json.dumps(d) for d in data))
    emitted: list = []

    def run_once():
        stream = (
            spark.readStream.schema("series string, ts long, value double")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            sessionize(stream, gap_s=600, watermark="0 seconds")
            .writeStream.outputMode("append")
            .foreachBatch(lambda b, _id: emitted.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / "sess_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    # sentinel far in the future advances the watermark past every real
    # session end so append mode emits them as FINAL (exactly once)
    (src / "f2.ndjson").write_text(json.dumps({"series": "zz", "ts": 10**6, "value": 0.0}))
    run_once()
    run_once()  # no-data batch flushes remaining closed state

    got = {
        (r["series"], r["session_start"]): (r["session_end"], r["n_events"], r["sum_v"])
        for r in emitted
        if r["series"] != "zz"
    }
    batch = spark.createDataFrame(data)
    want = {
        (r["series"], r["session_start"]): (r["session_end"], r["n_events"], r["sum_v"])
        for r in sessionize(batch, gap_s=600).collect()
    }
    assert got == want


def test_curate_stream_gates_and_dedupes(spark, tmp_path):
    """Streaming corpus intake: low-quality docs are gated out, an exact
    content duplicate arriving in a later micro-batch (within the
    watermark) lands once, and distinct docs all land."""
    import json

    from sydradb_spark.streaming.curation_stream import curate_stream

    good = " ".join(f"word{i} token text quality" for i in range(40))
    src = tmp_path / "csrc"
    src.mkdir()
    rows0 = [
        {"doc_id": 1, "text": good, "ingest_ts": 1000},
        {"doc_id": 2, "text": "x", "ingest_ts": 1010},           # low quality
    ]
    rows1 = [
        {"doc_id": 3, "text": good, "ingest_ts": 1100},          # dup of 1
        {"doc_id": 4, "text": good + " extra", "ingest_ts": 1110},
    ]
    (src / "b0.ndjson").write_text("\n".join(map(json.dumps, rows0)) + "\n")
    (src / "b1.ndjson").write_text("\n".join(map(json.dumps, rows1)) + "\n")
    import os

    os.utime(src / "b0.ndjson", (1, 1))
    os.utime(src / "b1.ndjson", (2, 2))

    stream = spark.readStream.schema("doc_id long, text string, ingest_ts long").json(
        str(src)
    )
    out_dir = tmp_path / "cout"
    q = (
        curate_stream(stream, min_quality=0.6)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(tmp_path / "cckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r["doc_id"] for r in spark.read.parquet(str(out_dir)).collect())
    # the dup pair {1, 3} lands exactly once (keeper unspecified — both
    # files can share a micro-batch); the low-quality doc 2 is gated out
    assert len(got) == 2 and got[1] == 4 and got[0] in (1, 3)
    # batch path over the SAME input gives the same surviving content set
    batch = spark.createDataFrame(
        [(r["doc_id"], r["text"], r["ingest_ts"]) for r in rows0 + rows1],
        "doc_id long, text string, ingest_ts long",
    )
    bt = sorted(
        r["text"] for r in curate_stream(batch, min_quality=0.6).collect()
    )
    st = sorted(r["text"] for r in spark.read.parquet(str(out_dir)).collect())
    assert bt == st


def test_curate_stream_dedupe_state_survives_restart(spark, tmp_path):
    """The watermarked content-dedup state is checkpointed: a duplicate
    arriving in a NEW query run (same checkpoint) is still dropped."""
    import json
    import os

    from sydradb_spark.streaming.curation_stream import curate_stream

    good = " ".join(f"word{i} token text quality" for i in range(40))
    src = tmp_path / "rsrc"
    src.mkdir()
    ckpt = str(tmp_path / "rckpt")
    out_dir = str(tmp_path / "rout")

    def drain():
        stream = spark.readStream.schema(
            "doc_id long, text string, ingest_ts long"
        ).json(str(src))
        q = (
            curate_stream(stream, min_quality=0.6)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    (src / "r0.ndjson").write_text(
        json.dumps({"doc_id": 1, "text": good, "ingest_ts": 1000}) + "\n"
    )
    os.utime(src / "r0.ndjson", (1, 1))
    drain()
    # second RUN: a content dup within the watermark + a fresh doc
    (src / "r1.ndjson").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 2, "text": good, "ingest_ts": 1100},
                {"doc_id": 3, "text": good + " fresh", "ingest_ts": 1200},
            ]
        )
        + "\n"
    )
    os.utime(src / "r1.ndjson", (2, 2))
    drain()
    got = sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect())
    assert got == [1, 3]


def test_streaming_anomalies_state_across_batches(spark, tmp_path):
    """Online z-score anomalies: warm-up emits nothing, a spike in a LATER
    micro-batch is flagged against the running baseline carried in state,
    and the spike's own value doesn't dilute the baseline it was judged by."""
    import json

    from sydradb_spark.streaming.stateful import streaming_anomalies

    src = tmp_path / "an_src"
    src.mkdir()
    batch1 = [
        {"series_id": 1, "ts": i, "value": 10.0 + (i % 5) * 0.1} for i in range(20)
    ]
    (src / "b1.ndjson").write_text("\n".join(map(json.dumps, batch1)) + "\n")
    out_path, ck = str(tmp_path / "an_out"), str(tmp_path / "an_ck")

    def drain():
        stream = spark.readStream.schema("series_id long, ts long, value double").json(
            str(src)
        )
        q = (
            streaming_anomalies(stream, threshold=3.0, min_points=10)
            .writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    import glob

    files = glob.glob(f"{out_path}/*.parquet")
    n0 = spark.read.parquet(out_path).count() if files else 0
    assert n0 == 0  # tame warm-up batch: nothing flagged
    batch2 = [
        {"series_id": 1, "ts": 100, "value": 10.2},
        {"series_id": 1, "ts": 101, "value": 99.0},  # spike
        {"series_id": 1, "ts": 102, "value": 10.3},
    ]
    (src / "b2.ndjson").write_text("\n".join(map(json.dumps, batch2)) + "\n")
    drain()
    rows = spark.read.parquet(out_path).collect()
    assert [(r["ts"], r["value"]) for r in rows] == [(101, 99.0)]
    assert rows[0]["zscore"] > 3.0 and rows[0]["n_seen"] == 21


def test_ndjson_gzip_ingest(spark, tmp_path):
    """Compressed crawl drops are the norm at scale: .ndjson.gz files ingest
    through the SAME batch and streaming paths with no code change (Spark's
    codec-by-extension) — pinned so a refactor to a custom reader can't
    silently lose it."""
    import gzip
    import json

    from sydradb_spark.ingest import read_ndjson, stream_ndjson
    from sydradb_spark.storage import read_points

    src = tmp_path / "gz"
    src.mkdir()
    rows = [
        {"series": "g.s", "ts": 1000 + i, "value": float(i)} for i in range(5)
    ]
    with gzip.open(src / "a.ndjson.gz", "wt") as f:
        f.write("\n".join(json.dumps(r) for r in rows) + "\n")
    got = sorted(
        (r["ts"], r["value"]) for r in read_ndjson(spark, str(src)).collect()
    )
    assert got == [(1000 + i, float(i)) for i in range(5)]
    table = str(tmp_path / "gtable")
    q = stream_ndjson(
        spark, str(src), table, str(tmp_path / "gckpt"), available_now=True
    )
    q.awaitTermination()
    assert read_points(spark, table).count() == 5


def test_windowed_agg_bounded_state_drop_counter_and_restart(spark, tmp_path):
    """The pytest-scale pin of scripts/stream_soak.py's three soak
    properties (r9 verdict item 6):

    - state store holds OPEN windows only: with a 10-minute watermark and
      1-hour windows over 10 replayed hours, state never exceeds a few
      windows x 2 series — far under the 20 total windows an unbounded
      operator would accumulate;
    - `numRowsDroppedByWatermark` accounts for EXACTLY the injected
      stragglers (two rows hours late), no more, no less;
    - killing the query mid-replay and restarting from the checkpoint
      yields final aggregates equal to the batch twin over the
      non-straggler rows (last-update-wins folds re-emission).
    """
    import json as J
    import os as _os
    import time as _time

    from sydradb_spark.streaming.windowed import windowed_agg

    src = tmp_path / "soak_src"
    src.mkdir()
    hours = 10
    now = _time.time()
    expect: dict = {}
    for h in range(hours):
        data = [
            {"series_id": s, "ts": h * 3600 + i * 120, "value": float(i)}
            for s in ("a", "b")
            for i in range(20)
        ]
        for s in ("a", "b"):
            expect[(s, h * 3600)] = (20, sum(float(i) for i in range(20)), 0.0, 19.0)
        if h == 8:  # stragglers: hours 0 and 1 closed ~7 event-hours ago
            data += [
                {"series_id": "a", "ts": 100, "value": 99.0},
                {"series_id": "b", "ts": 3700, "value": 99.0},
            ]
        f = src / f"c{h:02d}.ndjson"
        f.write_text("\n".join(J.dumps(d) for d in data))
        _os.utime(f, (now + h, now + h))  # file source replays oldest first

    emitted: list = []
    prog: list = []

    def run(stop_after=None):
        stream = (
            spark.readStream.schema("series_id string, ts long, value double")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            windowed_agg(stream, window="1 hour", watermark="10 minutes")
            .writeStream.outputMode("update")
            .foreachBatch(lambda b, _id: emitted.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / "soak_ck"))
            .trigger(availableNow=True)
            .start()
        )
        if stop_after is None:
            q.awaitTermination(180)
        else:
            while q.isActive and len(q.recentProgress) < stop_after:
                _time.sleep(0.2)
            q.stop()
            q.awaitTermination(60)
        for p in q.recentProgress:
            for op in p["stateOperators"]:
                prog.append(
                    {
                        "state_rows": op["numRowsTotal"],
                        "dropped": op.get("numRowsDroppedByWatermark", 0),
                    }
                )

    run(stop_after=4)  # kill mid-replay...
    run()  # ...restart from the checkpoint, drain the rest

    # bounded state: open windows only (2 series x <=3 in-flight windows,
    # + margin), never the 20 windows of the full replay
    assert prog, "no progress recorded"
    assert max(p["state_rows"] for p in prog) <= 8
    # exact watermark accounting: the two stragglers, nothing else
    assert sum(p["dropped"] for p in prog) == 2
    # restart equality: last update per window == batch twin minus stragglers
    final = {
        (r["series_id"], r["bucket"]): (r["cnt"], r["sum_v"], r["min_v"], r["max_v"])
        for r in emitted
    }
    assert final == expect


def test_stream_sink_exactly_once_replay(spark, tmp_path):
    """Kill the query AFTER the durable write but BEFORE the checkpoint
    commit (the foreachBatch replay gap); the restart replays the same
    batch_id and the manifest txn ledger makes it a no-op — no duplicate
    rows at LATEST (reference WAL replay guard, engine.zig:406-437)."""
    from sydradb_spark.ingest import NDJSON_SCHEMA, parse_ndjson, stream_points_sink
    from sydradb_spark.storage import read_points

    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.ndjson").write_text(
        '{"series": "s.a", "ts": 100, "value": 1.0}\n'
        '{"series": "s.a", "ts": 200, "value": 2.0}\n'
        '{"series": "s.b", "ts": 3700, "value": 3.0}\n'
    )
    table, ck = str(tmp_path / "tbl"), str(tmp_path / "ck")

    def points_stream():
        return parse_ndjson(spark.readStream.schema(NDJSON_SCHEMA).json(str(src)))

    def crash(_batch_id):
        raise RuntimeError("injected crash in the write->checkpoint gap")

    q = stream_points_sink(points_stream(), table, ck, _after_write_hook=crash)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
    # the write WAS durable before the crash — batch 0 is at LATEST once
    assert read_points(spark, table).count() == 3

    # restart: Spark replays batch 0 (its checkpoint commit never landed);
    # the txn ledger detects the replay and appends nothing
    q2 = stream_points_sink(points_stream(), table, ck)
    q2.awaitTermination(120)
    got = read_points(spark, table)
    assert got.count() == 3
    assert got.dropDuplicates(["series_id", "ts", "value"]).count() == 3

    # and the stream still makes progress: a new file lands as batch 1
    (src / "b2.ndjson").write_text('{"series": "s.a", "ts": 300, "value": 4.0}\n')
    q3 = stream_points_sink(points_stream(), table, ck)
    q3.awaitTermination(120)
    assert read_points(spark, table).count() == 4


def test_stream_sink_maintenance_prunes_manifest_versions(spark, tmp_path):
    """A continuous stream must not accumulate manifest versions forever:
    with maintenance_every set, the sink vacuums old version files while
    the data (append-only, always referenced by LATEST) stays intact."""
    from sydradb_spark import manifest as mf
    from sydradb_spark.ingest import (
        NDJSON_SCHEMA,
        checkpoint_app_id,
        parse_ndjson,
        stream_points_sink,
    )
    from sydradb_spark.storage import read_points

    src = tmp_path / "src"
    src.mkdir()
    for i in range(5):
        (src / f"b{i}.ndjson").write_text(
            f'{{"series": "s.a", "ts": {100 + i}, "value": {float(i)}}}\n'
        )
    table, ck = str(tmp_path / "tbl"), str(tmp_path / "ck")
    raw = (
        spark.readStream.schema(NDJSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = stream_points_sink(
        parse_ndjson(raw),
        table,
        ck,
        maintenance_every=2,
        maintenance_keep_versions=1,
        _vacuum_min_age=0,
    )
    q.awaitTermination(120)
    # 5 batches + init would be 6 versions without maintenance; the vacuum
    # at batches 2 and 4 prunes the tail (exact survivor count depends on
    # what was committed when the vacuum ran — the bound is what matters)
    versions = list((tmp_path / "tbl" / "_manifest").glob("v*.json"))
    assert len(versions) <= 3, sorted(p.name for p in versions)
    # data intact, replay guard intact
    assert read_points(spark, table).count() == 5
    app_id = checkpoint_app_id(spark, ck)
    assert mf.read_txn(table, app_id) == 4


def test_stream_rollup_replay_is_idempotent(spark, tmp_path):
    """A replayed rollup batch (crash in the write->checkpoint gap) finds
    its (app, batch) txn in the manifest ledger and writes nothing — the
    fold counts every batch exactly once (VERDICT r10 finding 1 applied to
    the rollup sink), and the guarantee survives compaction because the
    newest batch dir is never folded."""
    from sydradb_spark.rollup import build_rollup
    from sydradb_spark.streaming.rollup_stream import (
        compact_rollup,
        read_rollup,
        write_rollup_batch,
    )

    roll = str(tmp_path / "roll")
    pts = spark.createDataFrame(
        [("a", 100, 1.0), ("a", 200, 3.0)], "series string, ts long, value double"
    ).selectExpr(
        "xxhash64(series) as series_id", "series",
        "map() as tags", "ts", "value",
        "cast(floor(ts/3600)*3600 as long) as hour_bucket",
    )
    partial = build_rollup(pts, step_s=3600)
    write_rollup_batch(partial, roll, 0)
    write_rollup_batch(partial, roll, 0)  # replay: same batch id
    folded = read_rollup(spark, roll, 3600).collect()
    assert len(folded) == 1 and folded[0]["cnt"] == 2  # not 4
    # batch 1 lands, compaction folds batch 0 but carries batch 1 live;
    # a replay of batch 1 AFTER compaction still converges
    write_rollup_batch(partial, roll, 1)
    compact_rollup(spark, roll, 3600)
    write_rollup_batch(partial, roll, 1)  # replay after compaction
    folded = read_rollup(spark, roll, 3600).collect()
    assert len(folded) == 1 and folded[0]["cnt"] == 4  # batches 0 + 1, once each


def _mini_partial(spark, series: str, n: int):
    from sydradb_spark.rollup import build_rollup

    pts = spark.createDataFrame(
        [(series, 100 + i, 1.0) for i in range(n)],
        "series string, ts long, value double",
    ).selectExpr(
        "xxhash64(series) as series_id", "series",
        "map() as tags", "ts", "value",
        "cast(floor(ts/3600)*3600 as long) as hour_bucket",
    )
    return build_rollup(pts, step_s=3600)


def test_rollup_batch_dirs_keyed_by_app_id(spark, tmp_path):
    """Batch targets keyed by batch_id alone would let a checkpoint-reset
    stream (batch ids restart at 0) or a second stream feeding the same
    rollup table destroy another's unfolded partial. With (app_id,
    batch_id) targets each stream owns its dirs, and each app's replay of
    its batch is a txn no-op that converges."""
    from sydradb_spark.streaming.rollup_stream import write_rollup_batch

    roll = str(tmp_path / "roll")
    write_rollup_batch(_mini_partial(spark, "s.a", 2), roll, 0, "stream-one")
    # second stream's batch 0 must NOT clobber the first's unfolded partial
    write_rollup_batch(_mini_partial(spark, "s.b", 3), roll, 0, "stream-two")
    folded = {r["series"]: r for r in read_rollup(spark, roll, 3600).collect()}
    assert folded["s.a"]["cnt"] == 2 and folded["s.b"]["cnt"] == 3
    # each app's replay still converges onto its own target
    write_rollup_batch(_mini_partial(spark, "s.b", 3), roll, 0, "stream-two")
    folded = {r["series"]: r for r in read_rollup(spark, roll, 3600).collect()}
    assert folded["s.b"]["cnt"] == 3  # counted once, not appended


def test_compact_rollup_keeps_each_apps_live_tail(spark, tmp_path):
    """Compaction carries the NEWEST batch dir of EVERY app unfolded — each
    restarted stream can replay only its own newest batch, and a replay
    after compaction must converge, per app. A vacuum after the fold leaves
    exactly those tails on disk."""
    import pathlib

    from sydradb_spark.streaming.rollup_stream import write_rollup_batch

    roll = str(tmp_path / "roll")
    for app, series in (("stream-one", "s.a"), ("stream-two", "s.b")):
        write_rollup_batch(_mini_partial(spark, series, 2), roll, 0, app)
        write_rollup_batch(_mini_partial(spark, series, 2), roll, 1, app)
    compact_rollup(spark, roll, 3600)
    vacuum_rollup(roll, keep_versions=1, min_age_seconds=0)
    live = sorted(p.name for p in pathlib.Path(roll).glob("b_*") if p.is_dir())
    assert live == ["b_stream-one_000000000001", "b_stream-two_000000000001"]
    # post-compaction replay of each app's newest batch still converges
    write_rollup_batch(_mini_partial(spark, "s.a", 2), roll, 1, "stream-one")
    write_rollup_batch(_mini_partial(spark, "s.b", 2), roll, 1, "stream-two")
    folded = {r["series"]: r for r in read_rollup(spark, roll, 3600).collect()}
    assert folded["s.a"]["cnt"] == 4 and folded["s.b"]["cnt"] == 4


def test_checkpoint_identity_order(spark, tmp_path):
    """One identity per checkpoint: an earlier release's ``_sydra_app_id``
    marker wins; else Spark's own checkpoint id; else None before the
    query's first start."""
    import json

    from sydradb_spark.ingest import checkpoint_app_id

    ck = tmp_path / "ck"
    assert checkpoint_app_id(spark, str(ck)) is None  # never started
    ck.mkdir()
    (ck / "metadata").write_text(json.dumps({"id": "0f-meta"}) + "\n")
    assert checkpoint_app_id(spark, str(ck)) == "stream-0f-meta"
    assert checkpoint_app_id(spark, "file://" + str(ck)) == "stream-0f-meta"
    (ck / "_sydra_app_id").write_text("stream-legacy\n")
    assert checkpoint_app_id(spark, str(ck)) == "stream-legacy"
    assert checkpoint_app_id(spark, "file://" + str(ck)) == "stream-legacy"


def test_stream_sink_exactly_once_replay_with_legacy_app_id(spark, tmp_path):
    """A checkpoint an earlier release started holds a ``_sydra_app_id``
    marker, and its ledger entries are keyed by it. The sink keeps that id
    across the upgrade: a crash in the write->checkpoint gap replays as a
    no-op under the same ledger key, and nothing rewrites the marker."""
    import pathlib

    from sydradb_spark import manifest as mf
    from sydradb_spark.ingest import NDJSON_SCHEMA, parse_ndjson, stream_points_sink
    from sydradb_spark.storage import read_points

    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.ndjson").write_text(
        '{"series": "s.a", "ts": 100, "value": 1.0}\n'
        '{"series": "s.b", "ts": 3700, "value": 3.0}\n'
    )
    table, ck = str(tmp_path / "tbl"), str(tmp_path / "ck")
    pathlib.Path(ck).mkdir()
    (pathlib.Path(ck) / "_sydra_app_id").write_text("stream-legacy")

    def points_stream():
        return parse_ndjson(spark.readStream.schema(NDJSON_SCHEMA).json(str(src)))

    def crash(_batch_id):
        raise RuntimeError("injected crash in the write->checkpoint gap")

    q = stream_points_sink(points_stream(), table, ck, _after_write_hook=crash)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
    assert read_points(spark, table).count() == 2
    q2 = stream_points_sink(points_stream(), table, ck)
    q2.awaitTermination(120)
    got = read_points(spark, table)
    assert got.count() == 2
    assert got.dropDuplicates(["series_id", "ts", "value"]).count() == 2
    assert mf.read_txn(table, "stream-legacy") == 0
    assert mf.read_ledger(table) == {"stream-legacy": 0}
    assert (pathlib.Path(ck) / "_sydra_app_id").read_text() == "stream-legacy"


def test_stream_sink_lazy_spark_metadata_app_id(spark, tmp_path):
    """The ledger key is Spark's own checkpoint metadata id, read through
    the Hadoop FS API on the first batch, and it is stable across restarts
    — the identity every checkpoint filesystem (local, s3a, hdfs) has. A
    crash in the write->checkpoint gap replays as a no-op under it."""
    import json as _json
    import pathlib

    from sydradb_spark import manifest as mf
    from sydradb_spark.ingest import (
        NDJSON_SCHEMA,
        checkpoint_app_id,
        parse_ndjson,
        stream_points_sink,
    )
    from sydradb_spark.storage import read_points

    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.ndjson").write_text('{"series": "s.a", "ts": 100, "value": 1.0}\n')
    table, ck = str(tmp_path / "tbl"), str(tmp_path / "ck")

    def points_stream():
        return parse_ndjson(spark.readStream.schema(NDJSON_SCHEMA).json(str(src)))

    def crash(_batch_id):
        raise RuntimeError("injected crash in the write->checkpoint gap")

    q = stream_points_sink(points_stream(), table, ck, _after_write_hook=crash)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
    assert read_points(spark, table).count() == 1
    q2 = stream_points_sink(points_stream(), table, ck)
    q2.awaitTermination(120)
    assert read_points(spark, table).count() == 1  # replay no-op'd

    meta_id = "stream-" + _json.loads(
        (pathlib.Path(ck) / "metadata").read_text()
    )["id"]
    assert checkpoint_app_id(spark, "file://" + ck) == meta_id
    assert mf.read_txn(table, meta_id) == 0


def test_fresh_streams_write_no_app_id_marker(spark, tmp_path):
    """Nothing writes ``_sydra_app_id`` any more: a fresh points stream and
    a fresh rollup stream each key their ledger by the checkpoint's own id
    and leave no marker in their checkpoint."""
    import pathlib

    from sydradb_spark import manifest as mf
    from sydradb_spark.ingest import (
        NDJSON_SCHEMA,
        checkpoint_app_id,
        parse_ndjson,
        stream_points_sink,
    )
    from sydradb_spark.streaming.rollup_stream import STORE_TABLE

    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.ndjson").write_text('{"series": "s.a", "ts": 100, "value": 1.0}\n')
    table, roll = str(tmp_path / "tbl"), str(tmp_path / "roll")
    ck_points, ck_roll = str(tmp_path / "ck_points"), str(tmp_path / "ck_roll")
    stream_points_sink(
        parse_ndjson(spark.readStream.schema(NDJSON_SCHEMA).json(str(src))),
        table,
        ck_points,
    ).awaitTermination(120)
    stream_rollup(spark, str(src), roll, ck_roll).awaitTermination(120)
    ids = [checkpoint_app_id(spark, ck) for ck in (ck_points, ck_roll)]
    for ck, app_id in zip((ck_points, ck_roll), ids):
        assert not (pathlib.Path(ck) / "_sydra_app_id").exists()
        # stream-<uuid>, no '_': the rollup's live-tail grouping rsplits
        # batch dir names on their last '_'
        assert app_id.startswith("stream-") and "_" not in app_id
    assert ids[0] != ids[1]
    assert mf.read_txn(table, ids[0]) == 0
    assert mf.read_txn(roll, ids[1], key=STORE_TABLE) == 0


def test_stream_rollup_crash_replay_converges(spark, tmp_path):
    """Kill the rollup stream AFTER the durable partial write but BEFORE the
    checkpoint commit; the restart redelivers the same batch_id, whose
    (app_id, batch_id) txn is already in the manifest ledger, so the batch
    converges instead of double-counting — the stream-level twin of
    scripts/rollup_soak.py, here with the default local table."""
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        (src / f"b{i}.ndjson").write_text(
            f'{{"series": "s.a", "ts": {100 + i}, "value": 1.0}}\n'
        )
    roll, ck = str(tmp_path / "roll"), str(tmp_path / "ck")

    def crash(batch_id):
        if batch_id == 1:
            raise RuntimeError("injected crash in rollup write->checkpoint gap")

    q = stream_rollup(
        spark, str(src), roll, ck, available_now=True,
        max_files_per_trigger=1, _after_write_hook=crash,
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
    q2 = stream_rollup(
        spark, str(src), roll, ck, available_now=True, max_files_per_trigger=1
    )
    q2.awaitTermination(120)
    folded = read_rollup(spark, roll, 3600).collect()
    assert len(folded) == 1 and folded[0]["cnt"] == 3  # batch 1 counted once


def test_two_streams_append_same_table_concurrently(spark, tmp_path):
    """Two live streams (distinct checkpoints → distinct app ids) append to
    ONE points table at the same time: the manifest CAS must lose no
    appends across the interleaved commits, and each app's txn ledger must
    advance independently (multi-writer claim of manifest.commit, here
    exercised through the real streaming sink rather than bare threads)."""
    from sydradb_spark import manifest as mf
    from sydradb_spark.ingest import NDJSON_SCHEMA, parse_ndjson, stream_points_sink
    from sydradb_spark.storage import read_points

    table = str(tmp_path / "tbl")
    qs = []
    for app, series, n in (("a", "s.a", 4), ("b", "s.b", 3)):
        src = tmp_path / f"src_{app}"
        src.mkdir()
        for i in range(n):
            (src / f"f{i}.ndjson").write_text(
                f'{{"series": "{series}", "ts": {100 + i}, "value": {float(i)}}}\n'
            )
        raw = (
            spark.readStream.schema(NDJSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        qs.append(
            stream_points_sink(
                parse_ndjson(raw), table, str(tmp_path / f"ck_{app}")
            )
        )
    for q in qs:
        q.awaitTermination(120)
    got = read_points(spark, table)
    assert got.count() == 7  # no lost appends under interleaved commits
    assert got.where("series = 's.a'").count() == 4
    assert got.where("series = 's.b'").count() == 3
    # independent per-app ledgers, both at their last batch id
    from sydradb_spark.ingest import checkpoint_app_id

    ids = [checkpoint_app_id(spark, str(tmp_path / f"ck_{app}")) for app in ("a", "b")]
    assert ids[0] != ids[1]
    assert mf.read_txn(table, ids[0]) == 3 and mf.read_txn(table, ids[1]) == 2


def test_stream_rollup_raises_on_unresolvable_app_id(spark, tmp_path, monkeypatch):
    """ADVICE r12: the rollup sink must mirror stream_points_sink and FAIL
    when the lazy app-id resolution yields None, instead of silently keying
    batch dirs 'b_None_<batch>' (which two streams/resets would clobber)."""
    from sydradb_spark import ingest
    from sydradb_spark.streaming import rollup_stream as rs

    monkeypatch.setattr(ingest, "checkpoint_app_id", lambda *a, **k: None)
    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.ndjson").write_text('{"series": "s.a", "ts": 100, "value": 1.0}\n')
    q = rs.stream_rollup(
        spark, str(src), str(tmp_path / "roll"), str(tmp_path / "ck")
    )
    with pytest.raises(Exception, match="no app identity resolvable"):
        q.awaitTermination(60)
    assert not list((tmp_path / "roll").glob("b_None_*"))


def test_parse_ndjson_drops_malformed_lines(spark, tmp_path):
    """r13 review: PERMISSIVE JSON parsing yields null series/ts for
    malformed lines (Spark ignores user-schema nullability) — ingesting
    them poisons the table (null hour_bucket partition, xxhash64(null)
    series_id); the reference rejects such lines (http.zig:657-712), so
    parse_ndjson drops them."""
    from sydradb_spark.ingest import read_ndjson

    src = tmp_path / "src"
    src.mkdir()
    (src / "mixed.ndjson").write_text(
        '{"series": "s.a", "ts": 100, "value": 1.0}\n'
        '{"ts": "abc", "value": 2.0}\n'          # non-numeric ts, no series
        '{"series": "s.b", "value": 3.0}\n'      # missing ts
        '{"ts": 200, "value": 4.0}\n'            # missing series
        '{"series": "s.c", "ts": 300, "value": null}\n'  # null value: KEPT
    )
    rows = read_ndjson(spark, str(src)).collect()
    assert sorted((r["series"], r["ts"]) for r in rows) == [
        ("s.a", 100),
        ("s.c", 300),
    ]


def test_streaming_ema_null_does_not_poison_state(spark, tmp_path):
    """r14 review (the r13 Welford-guard bug class): a null value in the
    stream must emit a null ema WITHOUT folding NaN into the checkpointed
    state — one NaN previously made every later ema NaN forever. The
    result must equal the batch chunked-EMA twin on the same rows."""
    import json as _json

    from sydradb_spark.functions.chunked import with_chunked_ema
    from sydradb_spark.streaming.stateful import streaming_ema

    src = tmp_path / "src"
    src.mkdir()
    rows = [(0, 100, 1.0), (0, 160, None), (0, 220, 3.0), (0, 280, 5.0)]
    # two files → the null crosses a batch boundary into carried state
    for i, chunk in enumerate((rows[:2], rows[2:])):
        p = src / f"c{i}.json"
        with p.open("w") as f:
            for sid, ts, v in chunk:
                f.write(_json.dumps({"series_id": sid, "ts": ts, "value": v}) + "\n")
        import os as _os

        _os.utime(p, (i + 1, i + 1))
    stream = (
        spark.readStream.schema("series_id long, ts long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        streaming_ema(stream, alpha=0.5)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["ts"]: r["ema"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    batch = spark.createDataFrame(rows, "series_id long, ts long, value double")
    want = {
        r["ts"]: r["ema"]
        for r in with_chunked_ema(batch, "value", "ema", 0.5).collect()
    }
    assert got == want  # null row -> null ema; recursion skips it
    assert got[160] is None
    assert got[220] == pytest.approx(2.0)  # 0.5*3 + 0.5*1, null skipped
    assert got[280] == pytest.approx(3.5)
