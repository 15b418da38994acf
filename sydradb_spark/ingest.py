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

The points sink and ``streaming.rollup_stream`` run one foreachBatch driver
(``_ledgered_stream``), keyed by one identity that travels with the
checkpoint: ``checkpoint_app_id``, Spark's own checkpoint id.
"""

from __future__ import annotations

import json
import os
from functools import partial

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
from sydradb_spark import manifest as mf
from sydradb_spark.model import with_identity
from sydradb_spark.storage import data_files, vacuum_points, write_points

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


def checkpoint_app_id(spark: SparkSession, checkpoint_dir: str) -> str | None:
    """The stream's identity, the txn ledger's key: one value that travels
    with the checkpoint. Structured Streaming writes ``<checkpoint>/metadata``
    (``{"id": "<uuid>"}``) at a query's first start and keeps it for the
    checkpoint's lifetime, on whatever filesystem holds it, so reading it
    through the Hadoop FileSystem API gives ``stream-<uuid>`` (no ``_``, as
    ``rollup_stream._live_tail_names`` needs) on local and s3a/hdfs
    checkpoints alike. A local checkpoint an earlier release started holds
    a ``_sydra_app_id`` marker instead; its text wins, so that stream's
    ledger stays valid across the upgrade. None before the query's first
    start."""
    local = datafs.local_path(checkpoint_dir)
    if local is not None:
        legacy = os.path.join(local, "_sydra_app_id")
        if os.path.isfile(legacy):
            with open(legacy) as f:
                return f.read().strip()
    jvm, fs, jpath = datafs.hadoop_fs(spark, checkpoint_dir.rstrip("/") + "/metadata")
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return "stream-" + str(json.loads(text)["id"])


def init_points_table(spark: SparkSession, table_path: str, store=None) -> None:
    """Ensure ``table_path`` is a manifested table (empty v1 for a fresh
    path; an existing plain-directory table is adopted in place by
    committing its current listing — local, or through the Hadoop FS API
    for a URI path). The streaming sink requires a manifest BEFORE the
    first batch so every batch append — including batch 0 — goes through
    the txn-ledgered commit path. ``store=`` keeps the manifest in an
    object store (required for URI table locations)."""
    if not mf.has_manifest(table_path, store=store):
        mf.commit(table_path, data_files(table_path, spark), store=store)


def _ledgered_stream(
    stream: DataFrame,
    checkpoint_dir: str,
    write,
    vacuum,
    available_now: bool,
    maintenance_every: int | None,
    after_write_hook,
) -> StreamingQuery:
    """The one exactly-once foreachBatch driver both streams run. The
    source's replayable offsets + checkpoint give at-least-once batch
    delivery; ``write(batch, app_id, batch_id)`` must make the batch
    idempotent under its ``(app_id, batch_id)`` txn, so a replay after a
    crash in the write→checkpoint-commit gap is a no-op — the Spark-side
    twin of the reference's WAL replay-above-highwater guard
    (engine.zig:406-437).

    The app id is ``checkpoint_app_id``, resolved on the first batch (by
    then Spark has written the checkpoint's metadata); none there fails the
    batch loudly rather than keying the ledger by None. Each batch runs the
    write, then ``after_write_hook(batch_id)`` (the crash-injection seam,
    after the durable write and before Spark's checkpoint commit), then
    every ``maintenance_every`` batches ``vacuum(spark=...)``: a
    ``functools.partial`` of ``vacuum_points`` or ``vacuum_rollup`` bound to
    its table. Without it a continuous stream accumulates one manifest
    version per batch FOREVER, and the commit path's version listing is
    O(versions) — a quadratic stream lifetime. Maintenance is advisory (the
    batch is already durable, and a transient FS race must not kill the
    stream) but a failure is logged, never silent.

    ``available_now=True`` drains what's there and stops (test/cron mode);
    False runs continuously (micro-batch service mode)."""
    state: dict = {"app_id": None}

    def sink(batch: DataFrame, batch_id: int) -> None:
        if state["app_id"] is None:
            state["app_id"] = checkpoint_app_id(batch.sparkSession, checkpoint_dir)
            if state["app_id"] is None:
                raise RuntimeError(
                    f"no app identity resolvable for checkpoint {checkpoint_dir!r}: "
                    "Spark checkpoint metadata missing inside a running batch"
                )
        write(batch, state["app_id"], batch_id)
        if after_write_hook is not None:
            after_write_hook(batch_id)
        if maintenance_every and batch_id > 0 and batch_id % maintenance_every == 0:
            try:
                vacuum(spark=batch.sparkSession)
                note_maintenance_ok(state)
            except Exception as exc:
                where = f"{vacuum.func.__name__}({vacuum.args[0]})"
                note_maintenance_failure(state, where, exc)

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_points_sink(
    points: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    maintenance_every: int | None = 256,
    maintenance_keep_versions: int = 8,
    store=None,
    _after_write_hook=None,
    _vacuum_min_age: int = 600,
) -> StreamingQuery:
    """The shared streaming sink: canonical points stream → hourly-partitioned
    append. Every points source (file NDJSON, Kafka) funnels through it, and
    it runs the one exactly-once driver (``_ledgered_stream``): each batch
    is a ``write_points`` append whose manifest commit is txn-ledgered by
    ``(checkpoint_app_id, batch_id)``, so a replayed batch appends nothing.
    Pinned by tests/test_streaming.py::test_stream_sink_exactly_once_replay.

    ``maintenance_every=k`` runs ``vacuum_points`` every k batches, keeping
    ``maintenance_keep_versions`` manifest versions plus the usual age
    window. Appends never unreference data files, so it only prunes old
    version jsons and crashed-attempt orphans; time travel on the stream
    table is bounded to the kept window. ``store=`` keeps the manifest in an
    object store, which an object-store table location requires.
    ``_after_write_hook`` and ``_vacuum_min_age`` are test seams."""
    init_points_table(points.sparkSession, table_path, store=store)
    return _ledgered_stream(
        points,
        checkpoint_dir,
        lambda batch, app_id, batch_id: write_points(
            batch, table_path, mode="append", txn=(app_id, batch_id), store=store
        ),
        partial(
            vacuum_points,
            table_path,
            store,
            keep_versions=maintenance_keep_versions,
            min_age_seconds=_vacuum_min_age,
        ),
        available_now,
        maintenance_every,
        _after_write_hook,
    )


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
