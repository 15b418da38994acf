"""NDJSON ingest — batch and Structured Streaming.

Reference ingest line shape (http.zig:657-712):
``{"series": "...", "ts": <epoch-s>, "value": <f64>, "tags": {...}}``
(tags optional). The reference path is queue → WAL → memtable → hourly
segment flush (engine.zig:263-369); Spark-first that whole pipeline is:

- batch:   ``spark.read.json`` with an explicit schema → identity columns →
           append to the hour-partitioned table.
- stream:  ``readStream.json`` → ``foreachBatch`` append. Exactly-once lands
           on the checkpoint + idempotent batch writes; the WAL is replaced
           by the source's replayability + checkpoint offsets. A
           ``withWatermark`` example lives in the streaming test — the
           reference has NO late-data policy (SURVEY §2.11), late points are
           simply accepted, so no watermark is applied by default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from sydradb_spark import datafs
from sydradb_spark.model import with_identity
from sydradb_spark.storage import write_points

_MAINT_LOG = __import__("logging").getLogger("sydradb_spark.maintenance")


def note_maintenance_failure(state: dict, where: str, exc: Exception) -> int:
    """Record an in-sink maintenance failure WITHOUT killing the stream, but
    observably (ADVICE r13): a bare ``except: pass`` made a persistently
    failing vacuum (store permissions, misconfigured path) silently disable
    maintenance forever, reintroducing the unbounded version/orphan growth
    it exists to prevent — with zero operator signal. Logs every one of the
    first 3 consecutive failures, then every 16th (rate limit: maintenance
    fires once per ``maintenance_every`` batches, so a broken path would
    otherwise log once per boundary forever). Returns the consecutive
    count; callers reset it via ``note_maintenance_ok``."""
    n = state.get("maintenance_failures", 0) + 1
    state["maintenance_failures"] = n
    if n <= 3 or n % 16 == 0:
        _MAINT_LOG.warning(
            "in-sink maintenance failed (%d consecutive) at %s: %r "
            "(stream continues; durable writes are unaffected)",
            n,
            where,
            exc,
        )
    return n


def note_maintenance_ok(state: dict) -> None:
    state["maintenance_failures"] = 0

NDJSON_SCHEMA = StructType(
    [
        StructField("series", StringType(), False),
        StructField("ts", LongType(), False),
        StructField("value", DoubleType(), True),
        StructField("tags", MapType(StringType(), StringType()), True),
    ]
)


def parse_ndjson(raw: DataFrame, observe_drops=None) -> DataFrame:
    """Normalize parsed NDJSON rows into the canonical points shape:
    missing tags → empty map (identity hashing needs a canonical value).

    Malformed lines are DROPPED, not ingested: Spark's PERMISSIVE JSON
    reader ignores user-schema nullability, so a line with a missing or
    non-numeric ``ts``/missing ``series`` arrives as nulls — ingested,
    a null ts lands in the __HIVE_DEFAULT_PARTITION__ hour bucket (pruned
    and full scans then DISAGREE about it) and a null series collapses
    every bad line onto one bogus xxhash64(null) series_id (r13 review).
    Reference behavior (http.zig:678-682) for comparison: unparseable
    JSON is skipped (``catch continue``), but a PARSED line missing
    ``series``/``ts`` hits a ``.?`` unwrap — a panic, not a rejection —
    so a clean per-line drop is strictly safer than the reference, not a
    transcription of it (ADVICE r13 comment correction).

    ``observe_drops`` makes the drop OBSERVABLE instead of silent (ADVICE
    r13 — systematic producer breakage must not be invisible): pass a
    ``pyspark.sql.Observation`` (batch) or a string name (streaming —
    surfaces in every StreamingQueryProgress ``observedMetrics``) to get
    ``input_rows`` / ``dropped_malformed`` counts per action/batch. The
    streaming sinks wire a default observation in (``stream_ndjson`` /
    ``stream_rollup``)."""
    malformed = F.col("series").isNull() | F.col("ts").isNull()
    if observe_drops is not None:
        raw = raw.observe(
            observe_drops,
            F.count(F.lit(1)).alias("input_rows"),
            F.sum(malformed.cast("long")).alias("dropped_malformed"),
        )
    return with_identity(
        raw.where(~malformed)
        .select(
            F.col("series"),
            F.coalesce(F.col("tags"), F.create_map().cast(NDJSON_SCHEMA["tags"].dataType)).alias(
                "tags"
            ),
            F.col("ts").cast("long").alias("ts"),
            F.col("value").cast("double").alias("value"),
        )
    )


def read_ndjson(spark: SparkSession, path: str, observe_drops=None) -> DataFrame:
    """Batch NDJSON → points (CLI stdin / HTTP-batch equivalent). Pass an
    ``Observation`` as ``observe_drops`` to count malformed dropped lines."""
    return parse_ndjson(spark.read.schema(NDJSON_SCHEMA).json(path), observe_drops)


def ingest_batch(spark: SparkSession, ndjson_path: str, table_path: str) -> None:
    write_points(read_ndjson(spark, ndjson_path), table_path, mode="append")


def _checkpoint_app_id(checkpoint_dir: str) -> str:
    """Stable identity for the streaming query, stored INSIDE the checkpoint
    dir so it survives restarts (and travels with the checkpoint if it is
    relocated). Created once with an atomic exclusive link — two racing
    starters converge on one id. POSIX checkpoint locations only (accepts a
    plain path or a ``file://`` URI); see ``resolve_app_id`` for the full
    resolution order covering object-store checkpoints."""
    import os
    import uuid
    from pathlib import Path

    local = datafs.local_path(checkpoint_dir)
    if local is None:
        raise ValueError(
            f"non-POSIX checkpoint location {checkpoint_dir!r}: mint the app "
            "id through mint_app_id(store) or let the sink resolve it from "
            "Spark's checkpoint metadata"
        )
    p = Path(local)
    p.mkdir(parents=True, exist_ok=True)
    marker = p / "_sydra_app_id"
    if not marker.exists():
        tmp = p / f".appid.{uuid.uuid4().hex}.tmp"
        tmp.write_text(f"stream-{uuid.uuid4().hex}")
        try:
            os.link(tmp, marker)
        except FileExistsError:
            pass  # a concurrent starter won — use theirs
        finally:
            tmp.unlink(missing_ok=True)
    return marker.read_text().strip()


def mint_app_id(store, key: str = "_sydra_app_id") -> str:
    """Mint-or-read the stream's stable app id through an object store's
    conditional PUT (``objectstore.ObjectStore.put_if_absent``) — the
    non-POSIX twin of ``_checkpoint_app_id`` for deployments whose
    checkpoint location is ``s3://``/``gs://``. Two racing starters
    converge: the CAS admits exactly one candidate, both read it back.
    Scope the store (or the key) to ONE checkpoint — the id is the replay
    ledger's identity, and sharing it across streams merges their ledgers."""
    import uuid

    existing = store.get(key)
    if existing is None:
        store.put_if_absent(key, f"stream-{uuid.uuid4().hex}".encode())
        existing = store.get(key)
    return existing.decode().strip()


def spark_checkpoint_metadata_id(spark: SparkSession, checkpoint_dir: str) -> str | None:
    """App id derived from Spark's OWN checkpoint identity: Structured
    Streaming writes ``<checkpoint>/metadata`` (``{"id": "<uuid>"}``) at
    first start and keeps it for the checkpoint's lifetime, on WHATEVER
    filesystem the checkpoint lives on — so reading it through the Hadoop
    FileSystem API gives a stable, restart-surviving identity on s3a/hdfs
    paths where no POSIX mint is possible. Returns None before the query's
    first start (the file doesn't exist yet) — the sink resolves lazily on
    batch 0, by which point Spark has written it."""
    import json

    jvm, fs, jpath = datafs.hadoop_fs(spark, checkpoint_dir.rstrip("/") + "/metadata")
    if not fs.exists(jpath):
        return None
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(fs.open(jpath), "UTF-8")
    )
    try:
        lines = []
        line = reader.readLine()
        while line is not None:
            lines.append(line)
            line = reader.readLine()
    finally:
        reader.close()
    return "stream-" + str(json.loads("\n".join(lines))["id"])


def resolve_app_id(
    checkpoint_dir: str, app_id: str | None = None, app_id_store=None
) -> str | None:
    """The sink's app-id resolution order: explicit ``app_id`` wins; else an
    object-store CAS mint when ``app_id_store`` is given (s3:// checkpoints
    with a store client at hand); else the POSIX in-checkpoint mint when the
    location is a local path; else None — meaning DEFER to Spark's own
    checkpoint metadata, read lazily inside the first batch (the one source
    of identity that exists on every Hadoop-supported filesystem)."""
    if app_id is not None:
        return app_id
    if app_id_store is not None:
        return mint_app_id(app_id_store)
    if datafs.local_path(checkpoint_dir) is not None:
        return _checkpoint_app_id(checkpoint_dir)
    return None


def init_points_table(spark: SparkSession, table_path: str, store=None) -> None:
    """Ensure ``table_path`` is a manifested table (empty v1 for a fresh
    path; an existing plain-directory table is adopted in place by
    committing its current listing — local, or through the Hadoop FS API
    for a URI path). The streaming sink requires a manifest BEFORE the
    first batch so every batch append — including batch 0 — goes through
    the txn-ledgered commit path. ``store=`` keeps the manifest in an
    object store (required for URI table locations)."""
    from sydradb_spark import manifest as mf
    from sydradb_spark.storage import data_files

    if not mf.has_manifest(table_path, store=store):
        mf.commit(table_path, data_files(table_path, spark), store=store)


def stream_points_sink(
    points: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    maintenance_every: int | None = 256,
    maintenance_keep_versions: int = 8,
    app_id: str | None = None,
    app_id_store=None,
    store=None,
    _after_write_hook=None,
    _vacuum_min_age: int = 600,
) -> StreamingQuery:
    """The shared streaming sink: canonical points stream → foreachBatch
    hourly-partitioned append. Every streaming source (file NDJSON, Kafka)
    funnels through this one writer, so exactly-once semantics are pinned in
    one place: the source's replayable offsets + checkpoint give at-least-
    once batch delivery, and the manifest txn ledger keyed by
    ``(app_id, batch_id)`` (manifest.read_txn / commit txn=) makes the
    append idempotent — a foreachBatch replay after a crash in the
    write→checkpoint-commit gap is detected and becomes a no-op, the
    Spark-side twin of the reference's WAL replay-above-highwater guard
    (engine.zig:406-437). Pinned by
    tests/test_streaming.py::test_stream_sink_exactly_once_replay.

    ``available_now=True`` drains what's there and stops (test/cron mode);
    False runs continuously (micro-batch service mode).

    ``maintenance_every=k`` vacuums the table every k batches (keeping
    ``maintenance_keep_versions`` manifest versions plus the usual age
    window): a continuous stream otherwise accumulates one manifest
    version per batch FOREVER, and the commit path's version listing is
    O(versions) — a year at one batch/minute is ~500k version files and a
    quadratic stream lifetime. Appends never unreference data files, so
    the vacuum only prunes old version jsons and crashed-attempt orphans;
    time travel on the stream table is bounded to the kept window.

    App identity (the txn ledger's key) resolves via ``resolve_app_id``:
    pass ``app_id`` explicitly, or ``app_id_store`` (an
    ``objectstore.ObjectStore`` scoped to this checkpoint) for object-store
    deployments, or leave both unset — POSIX checkpoint paths mint an id
    inside the checkpoint dir, and non-POSIX URIs (s3://, hdfs://) fall back
    to Spark's own checkpoint metadata id, read lazily on the first batch.
    Exactly-once therefore engages on EVERY checkpoint filesystem, not just
    local paths (VERDICT r11 item 2).

    ``_after_write_hook(batch_id)`` is a test seam: it runs after the
    durable write but before Spark's checkpoint commit (crash injection);
    ``_vacuum_min_age`` is the vacuum age window (test seam).

    ``store=`` (r14, VERDICT r13 item 1) keeps the table's manifest — init,
    every txn-ledgered batch commit, and the maintenance vacuum — in an
    object store, making the exactly-once contract real on object-store
    table locations, where a manifest without a store is rejected loudly
    instead of silently splitting ledger and data across filesystems."""
    from sydradb_spark.storage import vacuum_points

    init_points_table(points.sparkSession, table_path, store=store)
    resolved = resolve_app_id(checkpoint_dir, app_id, app_id_store)
    ident = {"app_id": resolved}

    def sink(batch: DataFrame, batch_id: int) -> None:
        if ident["app_id"] is None:
            # deferred mint: by the first batch Spark has written the
            # checkpoint's metadata file on its (possibly non-POSIX) fs
            ident["app_id"] = spark_checkpoint_metadata_id(
                batch.sparkSession, checkpoint_dir
            )
            if ident["app_id"] is None:
                raise RuntimeError(
                    f"no app identity resolvable for checkpoint {checkpoint_dir!r}: "
                    "Spark checkpoint metadata missing inside a running batch"
                )
        write_points(
            batch,
            table_path,
            mode="append",
            txn=(ident["app_id"], batch_id),
            store=store,
        )
        if _after_write_hook is not None:
            _after_write_hook(batch_id)
        if maintenance_every and batch_id > 0 and batch_id % maintenance_every == 0:
            try:
                vacuum_points(
                    table_path,
                    store,
                    keep_versions=maintenance_keep_versions,
                    min_age_seconds=_vacuum_min_age,
                    spark=batch.sparkSession,  # URI data locations reclaim
                    # through the Hadoop FS API
                )
                note_maintenance_ok(ident)
            except Exception as exc:
                # maintenance is advisory: the durable write + ledger commit
                # already succeeded above, and a vacuum hiccup (a transient
                # FS race with a concurrent writer's vacuum) must not kill
                # the continuous streaming query — the next boundary
                # retries (r13 review). But NOT silent (ADVICE r13): a
                # persistent failure is logged with a consecutive count.
                note_maintenance_failure(ident, f"vacuum_points({table_path})", exc)

    writer = points.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedupe_stream(points: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Suppress producer-retry duplicates at ingest: exact (series_id, ts,
    value) repeats arriving within ``watermark`` of event time are dropped
    by Spark's watermarked dedup state. Beyond the reference (which accepts
    all points and dedups at compaction) — compaction's last-wins stays the
    backstop for duplicates that outlive the watermark, so the two layers
    compose. State size is bounded by the watermark horizon."""
    return (
        points.withColumn("__event_time", F.timestamp_seconds(F.col("ts")))
        .withWatermark("__event_time", watermark)
        .dropDuplicatesWithinWatermark(["series_id", "ts", "value"])
        .drop("__event_time")
    )


def stream_ndjson(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    dedupe_watermark: str | None = None,
) -> StreamingQuery:
    """File-source streaming ingest → the shared points sink; pass
    ``dedupe_watermark`` (e.g. "1 hour") to drop producer-retry duplicates
    within that event-time horizon."""
    raw = spark.readStream.schema(NDJSON_SCHEMA).json(source_dir)
    # named observation: per-batch input/dropped-malformed counts in every
    # StreamingQueryProgress (ADVICE r13 — drops must be operator-visible)
    points = parse_ndjson(raw, observe_drops="sydra_ingest")
    if dedupe_watermark is not None:
        points = dedupe_stream(points, dedupe_watermark)
    return stream_points_sink(points, table_path, checkpoint_dir, available_now)


def read_csv_points(spark: SparkSession, path: str) -> DataFrame:
    """CSV ingest (reference cmd/sydra-csv is a 1-line placeholder; this is
    the real thing): header ``series,ts,value[,tags]`` with tags as a JSON
    object string."""
    # escape='"' gives RFC-4180 doubled-quote semantics (Spark's default
    # escape is backslash), needed for JSON tag objects inside quoted fields
    raw = spark.read.option("header", "true").option("escape", '"').csv(path)
    tags = (
        F.from_json(F.col("tags"), NDJSON_SCHEMA["tags"].dataType)
        if "tags" in raw.columns
        else F.lit(None).cast(NDJSON_SCHEMA["tags"].dataType)
    )
    return parse_ndjson(
        raw.select(
            F.col("series"),
            F.col("ts").cast("long").alias("ts"),
            F.col("value").cast("double").alias("value"),
            tags.alias("tags"),
        )
    )


def parse_kafka_values(raw: DataFrame) -> DataFrame:
    """Kafka record values (binary NDJSON) → canonical points — the
    transformation half of the Kafka source, testable without a broker."""
    return parse_ndjson(
        raw.select(
            F.from_json(F.col("value").cast("string"), NDJSON_SCHEMA).alias("j")
        ).select("j.*")
    )


def stream_kafka_points(
    spark: SparkSession, bootstrap_servers: str, topic: str
) -> DataFrame:
    """Kafka → streaming points (SURVEY §7.1 phase 6). Requires the
    spark-sql-kafka package on the classpath at runtime (DEPLOY.md); only
    this ``.format("kafka").load()`` line needs a broker — everything after
    it (parse_kafka_values → stream_points_sink) is pinned end-to-end by
    ``tests/test_streaming.py::test_kafka_chain_end_to_end`` over a
    binary-value file stream shaped exactly like Kafka records."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .load()
    )
    return parse_kafka_values(raw)


def stream_kafka_ingest(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    table_path: str,
    checkpoint_dir: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Kafka → parse → durable hourly-partitioned table: the full ingest
    service, one call. Composition of the two halves the tests pin."""
    return stream_points_sink(
        stream_kafka_points(spark, bootstrap_servers, topic),
        table_path,
        checkpoint_dir,
        available_now,
    )
