"""Storage layer: the points table as hour-bucket-partitioned Parquet.

Reference write path (engine.zig:317-369, storage/segment.zig:11-57): sort
points by ts, split by UTC hour, write compressed segments + manifest entry.
Spark-first translation:

- ``write_points``: sort within tasks by (hour_bucket, series_id, ts),
  ``partitionBy("hour_bucket")`` Parquet, one file per hour per write. A
  multi-partition input is first shuffled by hour_bucket so each hour is
  written by one task; a one-partition input (a driver-built HTTP or
  INSERT batch) is already in one task and skips the shuffle. Every
  committed file is listed in the manifest; Parquet row-group min/max
  stats on (series_id, ts) prune within files.
- ``read_points`` / ``read_points_version``: open one manifest version —
  its exact file list, listed on the driver and read with a declared
  schema (one footer's stored columns, read on the driver, plus
  ``hour_bucket``), so a POSIX table opens without a Spark job.
- ``hour_bucket_bounds``: the ONE rewrite Catalyst cannot do for us (SURVEY
  §4.1): derive hour_bucket partition predicates from ts predicates so a
  time-ranged query prunes partitions instead of scanning all of them.
- ``compact_points`` / ``apply_retention`` / ``drop_expired_partitions``:
  the compaction dedup (compact.zig:36-49, (series_id, ts) last-wins) and
  TTL jobs (retention.zig:4-20) as batch jobs. Partition drops are
  metadata/filesystem operations — no data rewrite.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sydradb_spark.model import SECONDS_PER_HOUR

POINT_COLS = ["series_id", "series", "tags", "ts", "value", "hour_bucket"]

# the table key the objectstore points manifest is kept under; scope the
# store to ONE table (mirrors rollup_stream.STORE_TABLE's one-table scoping)
POINTS_STORE_TABLE = "points"


def _posix_table_path(path: str) -> str | None:
    """Local-filesystem form of ``path`` (plain or file://), or None for a
    non-POSIX URI (s3a://, hdfs://, ...)."""
    from sydradb_spark.ingest import _posix_checkpoint_path

    return _posix_checkpoint_path(path)


def _require_posix(path: str, op: str) -> Path:
    """Loud non-POSIX triage (VERDICT r13 item 1): ``Path('s3a://b/t')`` is
    the RELATIVE local directory ``s3a:/b/t`` on which mkdir/rename/link all
    SUCCEED — a POSIX-only operation fed a URI silently splits the table
    across two filesystems instead of failing. Every Path/shutil-based
    entry point triages here first."""
    local = _posix_table_path(path)
    if local is None:
        raise ValueError(
            f"{op} is a POSIX-filesystem operation and cannot run on "
            f"{path!r}: pass store= (an objectstore.ObjectStore scoped to "
            "this table) so the manifest commits through the store's "
            "conditional PUT, and data operations route through the Hadoop "
            "FS API"
        )
    return Path(local)


# --- points-manifest backend dispatch (r14, VERDICT r13 item 1) ---------------
# The same two-backend seam the rollup table got in r13
# (streaming/rollup_stream._mf_commit): store=None → the local link(2)-CAS
# protocol (sydradb_spark.manifest, POSIX paths only — URIs rejected loudly
# by manifest._root); store=<ObjectStore> → the conditional-PUT protocol
# (sydradb_spark.objectstore) under the table key "points", with the DATA
# files living wherever ``path`` points (local or any Hadoop-reachable URI).


def _pm_has(path: str, store) -> bool:
    if store is None:
        from sydradb_spark import manifest as mf

        return mf.has_manifest(path)
    from sydradb_spark import objectstore as obs

    return obs.latest_version(store, POINTS_STORE_TABLE) is not None


def _pm_latest(path: str, store) -> int | None:
    if store is None:
        from sydradb_spark import manifest as mf

        return mf.latest_version(path)
    from sydradb_spark import objectstore as obs

    return obs.latest_version(store, POINTS_STORE_TABLE)


def _pm_files(path: str, store, version: int | None = None) -> list[str]:
    if store is None:
        from sydradb_spark import manifest as mf

        return mf.read_files(path, version=version)
    from sydradb_spark import objectstore as obs

    return obs.read_files(store, POINTS_STORE_TABLE, version)


def _pm_read_txn(path: str, store, app_id: str) -> int | None:
    if store is None:
        from sydradb_spark import manifest as mf

        return mf.read_txn(path, app_id)
    from sydradb_spark import objectstore as obs

    return obs.read_txn(store, POINTS_STORE_TABLE, app_id)


def _pm_commit(
    path: str,
    store,
    files: list[str] | None = None,
    *,
    mutate=None,
    txn: tuple[str, int] | None = None,
) -> int | None:
    if store is None:
        from sydradb_spark import manifest as mf

        return mf.commit(path, files, mutate=mutate, txn=txn)
    from sydradb_spark import objectstore as obs

    return obs.commit_cas(store, POINTS_STORE_TABLE, files, mutate=mutate, txn=txn)


def _write_tasks(spark: SparkSession) -> int:
    """Explicit shuffle width for partitioned writes. ``repartition(col)``
    without a count plans REPARTITION_BY_COL, which AQE re-optimizes through
    extra query stages — measured 3.5x slower than the pinned
    REPARTITION_BY_NUM shuffle for the hour-partitioned write at identical
    file layout (ROUND6_NOTES §10). The count follows the session's shuffle
    sizing, which cluster_conf scales with the data."""
    return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))


def _one_partition(df: DataFrame) -> bool:
    """True when one task already sees every row of ``df``. Read from the
    executed plan's RDD without running a job. Plans whose RDD cannot be
    built without running upstream work count as multi-partition untried:
    an exchange, an adaptive plan (which only wraps exchanges and
    subqueries) and a cached relation (its first use builds the cache)."""
    plan = df._jdf.queryExecution().executedPlan()
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if "Exchange" in name or name in ("AdaptiveSparkPlanExec", "InMemoryTableScanExec"):
            return False
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return plan.execute().getNumPartitions() <= 1


def _shaped(df: DataFrame):
    """The table's one write shaping: canonical columns first, then rows
    sorted by (hour_bucket, series_id, ts) within each task and written
    ``partitionBy("hour_bucket")`` — one file per hour per task, sorted by
    (series_id, ts). A multi-partition input is shuffled by hour_bucket
    first so each hour is written by ONE task; a one-partition input (a
    driver-built ingest batch) already is, and the shuffle would add a
    stage and a job without changing a byte of the layout.

    The sort key MUST lead with the partition column (r16): Spark's planned
    write (V1Writes, default-on in 3.4+) requires child ordering
    [hour_bucket] for a partitionBy write — a child sorted only by
    (series_id, ts) does not satisfy it, so the planner stacked its own
    Sort[hour_bucket] on top and EliminateSorts then dropped the user sort
    entirely: files were written hour-clustered but NOT (series_id,
    ts)-sorted. Leading with hour_bucket satisfies the required ordering
    (no extra sort inserted) AND keeps the within-file (series_id, ts)
    order — one sort, the intended layout."""
    df = df.select(*POINT_COLS, *[c for c in df.columns if c not in POINT_COLS])
    if not _one_partition(df):
        df = df.repartition(_write_tasks(df.sparkSession), F.col("hour_bucket"))
    return (
        df.sortWithinPartitions("hour_bucket", "series_id", "ts")
        .write.partitionBy("hour_bucket")
    )


def write_points(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    txn: tuple[str, int] | None = None,
    store=None,
) -> None:
    """Hour-partitioned write, (series_id, ts)-sorted within files
    (reference segment writer), one file per hour per write, so Parquet page
    stats make ts-range reads skip pages. The shuffle on hour_bucket runs
    only when it can change the layout: a multi-partition input (a bulk
    load, a rewrite) is shuffled so each hour is written by one task; a
    one-partition input — the HTTP ingest route and sydraQL INSERT build
    their driver-side batch as one slice — is only sorted, and a 240-point
    append is one job with one task (``_shaped``).

    Commits a file manifest (sydradb_spark.manifest) so readers flip between
    consistent versions atomically: overwrite and new-table writes always
    commit; appends extend the table's manifest when it has one. Appending
    to a pre-manifest table keeps plain directory semantics.

    ``txn=(app_id, txn_version)`` makes the append idempotent: a write whose
    txn is already in the manifest's ledger (a replayed streaming batch —
    reference WAL replay-above-highwater guard, engine.zig:406-437) is a
    no-op. The pre-check skips the parquet write entirely on the common
    replay path; the commit itself re-checks inside the CAS loop, so a
    replay that staged files but loses the ledger check leaves only
    unreferenced orphans for ``manifest.vacuum`` — LATEST never sees a
    duplicate row.

    Appends to a MANIFESTED table stage through a PRIVATE
    ``.staging-<uuid>/`` dir and rename the part files into the layout
    before committing (r12): Spark's ``mode("append")`` shares Hadoop's
    ``_temporary/0`` staging across jobs, so two concurrent appenders to
    one table destroy each other's in-flight staging when either commits
    (found by the two-streams-one-table soak test). Private staging makes
    concurrent appends collision-free, gives the commit the EXACT moved
    file list instead of a directory-listing diff, and a crash between the
    renames and the manifest commit leaves only unreferenced orphans —
    same contract as before. Hidden dot-dirs are invisible to Spark's file
    index and to ``manifest.data_files``; crashed staging dirs are
    reclaimed by ``manifest.vacuum``.

    Backends (r14, VERDICT r13 item 1): ``store=None`` is the local
    link-CAS manifest protocol and REQUIRES a POSIX table path — a URI
    location raises instead of silently committing the exactly-once ledger
    to a relative local ``s3a:/...`` junk directory while the data goes to
    the store. Object-store tables pass ``store=`` (an
    ``objectstore.ObjectStore`` scoped to this table): every write then
    stages privately and commits the manifest through the store's
    conditional PUT, with data staging routed through the Hadoop FS API
    when ``path`` is a URI."""
    from sydradb_spark import manifest as mf

    # __ns/__tsr/__ssrc are the events-adapter pushdown hints
    # (tables.normalize_events / events_points) — redundant with ts/series;
    # stored tables prune via hour_bucket, and series is a real stored
    # column so its filters push natively.
    for hint in ("__ns", "__tsr", "__ssrc"):
        if hint in df.columns:
            df = df.drop(hint)
    local = _posix_table_path(path)
    if store is None and local is None:
        raise ValueError(
            f"write_points on the URI location {path!r} needs store=: the "
            "POSIX manifest protocol would silently commit the exactly-once "
            "ledger to a relative LOCAL directory while the data goes to "
            "the store (VERDICT r13 item 1) — pass an objectstore-backed "
            "store scoped to this table"
        )
    if store is not None:
        # store-manifested tables are ALWAYS manifested (v1 on first write)
        manifested = _pm_latest(path, store) is not None
        fresh = not manifested
    else:
        path = str(local)
        fresh = not Path(path).exists()
        manifested = mf.has_manifest(path)
    if txn is not None and manifested:
        # the pre-check applies to EVERY mode: in overwrite mode especially,
        # the destructive parquet rewrite would otherwise run before the
        # ledger check, and a replayed txn's commit would no-op while LATEST
        # kept referencing the pre-overwrite files the rewrite just deleted
        last = _pm_read_txn(path, store, txn[0])
        if last is not None and last >= txn[1]:
            return  # replayed batch — this txn is already durable
    shaped = _shaped(df)
    if store is not None:
        moved = _publish_staged(shaped, path, df.sparkSession)
        if mode == "append" and manifested:
            # an empty batch still commits (txn ledger must record the batch)
            _pm_commit(path, store, mutate=lambda old: old + moved, txn=txn)
        else:
            # overwrite (and any first write): full-replacement flip — old
            # files stay on the store until vacuum, readers stay atomic
            _pm_commit(path, store, files=moved, txn=txn)
    elif manifested and not fresh:
        moved = _stage_and_publish(shaped, path)
        if mode == "append":
            # an empty batch still commits (txn ledger must record the batch)
            mf.commit(path, mutate=lambda old: old + moved, txn=txn)
        else:
            # overwrite on a LIVE manifested table is a manifest-level flip,
            # NOT a Spark directory truncation (r13 review): static
            # partitionOverwriteMode deletes the whole path — _manifest/,
            # version history, and BOTH apps' txn ledgers included — and
            # readers crash mid-scan on the vanished files. Staging the new
            # files in and committing a full-replacement list keeps readers
            # atomic (old files stay until vacuum) and commit_cas carries
            # the ledger forward.
            mf.commit(path, files=moved, txn=txn)
    else:
        shaped.mode(mode).parquet(path)
        if mode == "overwrite" or fresh:
            mf.commit(path, mf.data_files(path), txn=txn)


def _stage_and_publish(shaped_writer, path: str) -> list[str]:
    """Write through a PRIVATE ``.staging-<uuid>/`` dir and rename the part
    files into the live layout, returning the EXACT moved-file list for the
    manifest commit. This is the only safe append shape under concurrent
    committers (r12 + r13 reviews): Spark's ``mode("append")`` into the
    live path shares Hadoop's ``_temporary/0`` staging across jobs, and a
    before/after ``data_files()`` diff double-commits (or drops) a
    concurrent appender's files. Publication time is stamped on every
    renamed file — rename(2) preserves the staging mtime, which would void
    ``manifest.vacuum``'s age guard for writes longer than the window."""
    import os
    import uuid

    stage = Path(path) / f".staging-{uuid.uuid4().hex}"
    try:
        shaped_writer.mode("overwrite").parquet(str(stage))
        moved: list[str] = []
        for f in sorted(stage.glob("hour_bucket=*/*.parquet")):
            rel = f.relative_to(stage)
            dst = Path(path) / rel
            dst.parent.mkdir(exist_ok=True)
            crc = f.with_name(f".{f.name}.crc")  # local-FS checksum sibling
            if crc.exists():
                crc_dst = dst.with_name(f".{dst.name}.crc")
                crc.rename(crc_dst)
                os.utime(crc_dst)
            f.rename(dst)
            os.utime(dst)
            moved.append(str(rel))
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return moved


def _stage_and_publish_hadoop(shaped_writer, path: str, spark: SparkSession) -> list[str]:
    """URI twin of ``_stage_and_publish``: private ``.staging-<uuid>/`` dir
    inside the table, renames through the Hadoop FileSystem API (a real
    metadata rename on HDFS/ABFS; copy+delete on S3A — slower, but the
    commit unit is the MANIFEST, so a slow publish only widens the orphan
    window for vacuum, never the correctness window readers see).
    Publication time is re-stamped via ``setTimes`` where the store
    supports it — HDFS rename preserves mtime exactly like rename(2), and
    the vacuum age-guard must see just-published files as fresh."""
    import time
    import uuid

    from sydradb_spark.util import hadoop_fs

    root = path.rstrip("/")
    stage = f"{root}/.staging-{uuid.uuid4().hex}"
    jvm, fs, jstage = hadoop_fs(spark, stage)
    try:
        shaped_writer.mode("overwrite").parquet(stage)
        moved: list[str] = []
        now_ms = int(time.time() * 1000)
        for part in fs.listStatus(jstage):
            pname = part.getPath().getName()
            if not (part.isDirectory() and pname.startswith("hour_bucket=")):
                continue
            dst_dir = jvm.org.apache.hadoop.fs.Path(f"{root}/{pname}")
            fs.mkdirs(dst_dir)
            for f in fs.listStatus(part.getPath()):
                name = f.getPath().getName()
                if not name.endswith(".parquet") or name.startswith("."):
                    continue
                dst = jvm.org.apache.hadoop.fs.Path(dst_dir, name)
                if not fs.rename(f.getPath(), dst):
                    raise IOError(f"hadoop rename failed: {f.getPath()} -> {dst}")
                try:
                    fs.setTimes(dst, now_ms, -1)
                except Exception:
                    pass  # stores without setTimes: the PUT time is fresh
                moved.append(f"{pname}/{name}")
        return sorted(moved)
    finally:
        fs.delete(jstage, True)


def _publish_staged(shaped_writer, path: str, spark: SparkSession) -> list[str]:
    """Backend dispatch for the staged publish: POSIX paths use rename(2),
    URI locations the Hadoop FS API."""
    local = _posix_table_path(path)
    if local is not None:
        return _stage_and_publish(shaped_writer, local)
    return _stage_and_publish_hadoop(shaped_writer, path, spark)


def table_version(path: str, store=None) -> int | None:
    """The table's LATEST manifest version; None for a pre-manifest table
    (or a URI location read without its store, which cannot carry a POSIX
    manifest)."""
    local = _posix_table_path(path)
    if store is None and local is None:
        return None
    return _pm_latest(path if store is not None else local, store)


def read_points(
    spark: SparkSession, path: str, store=None, version: int | None = None
) -> DataFrame:
    """Read the table's manifest ``version``, LATEST by default (plain
    directory read for pre-manifest tables). ``store=`` reads a
    store-manifested table's entry list through the objectstore protocol;
    a URI path WITHOUT a store reads as a plain directory (no POSIX
    manifest can exist there — a store-manifested URI table must be read
    with its store, or the read would include uncommitted staged
    orphans)."""
    return _open(spark, path, store, version)


def read_points_version(
    spark: SparkSession, path: str, version: int, store=None
) -> DataFrame:
    """Time travel: read a specific committed manifest version (files are
    immutable and retained until vacuum). Both manifest backends."""
    if store is None:
        _require_posix(path, "read_points_version(store=None)")
    return _open(spark, path, store, version)


def _open(
    spark: SparkSession, path: str, store, version: int | None = None
) -> DataFrame:
    """The one way to open the table: ``version`` (default LATEST) of the
    manifest gives the exact file list, read by ``_read_files``. On a
    POSIX table that runs no Spark job: the manifest replaces the
    directory listing and the declared schema replaces footer inference.
    Tables without a manifest read as a plain directory."""
    from sydradb_spark.model import POINTS_SCHEMA

    local = _posix_table_path(path)
    if store is None:
        if local is None:
            return _canonical(spark.read.parquet(path))  # plain URI directory
        path = str(local)
    if version is None:
        version = _pm_latest(path, store)
        if version is None:
            if store is not None:
                return spark.createDataFrame([], POINTS_SCHEMA)
            return _canonical(spark.read.parquet(path))  # pre-manifest table
    files = _pm_files(path, store, version=version)
    if not files:
        return spark.createDataFrame([], POINTS_SCHEMA)
    return _read_files(spark, path, files)


def _read_files(spark: SparkSession, path: str, files: list[str]) -> DataFrame:
    """Read exactly ``files`` (relative to the table root ``path``) with a
    declared schema (``_declared_schema``), so Spark infers nothing.
    Listing the files stays on the driver as long as their count is under
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (raised in
    ``session.get_spark``; see DEPLOY.md)."""
    root = path.rstrip("/")
    paths = [f"{root}/{f}" for f in files]
    df = (
        spark.read.schema(_declared_schema(spark, paths[0]))
        .option("basePath", path)
        .parquet(*paths)
    )
    return _canonical(df)


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _declared_schema(spark: SparkSession, data_file: str):
    """The stored columns of ``data_file`` plus ``hour_bucket`` as long —
    the schema Spark's inference returns (it reads ONE footer without
    mergeSchema), without its Spark job: a local file's footer is read on
    the driver with pyarrow, where Spark's writer stores the Spark schema
    of the written columns. A URI file, or one not written by Spark, falls
    back to Spark's inference over that one file."""
    import json

    from pyspark.sql.types import LongType, StructField, StructType

    stored = None
    local = _posix_table_path(data_file)
    if local is not None:
        import pyarrow.parquet as pq

        raw = (pq.read_schema(local).metadata or {}).get(_SPARK_SCHEMA_KEY)
        if raw:
            stored = StructType.fromJson(json.loads(raw))
    if stored is None:
        stored = spark.read.parquet(data_file).schema
    return StructType(
        [f for f in stored.fields if f.name != "hour_bucket"]
        + [StructField("hour_bucket", LongType(), False)]
    )


def _canonical(df: DataFrame) -> DataFrame:
    """Canonical column order, extra stored columns last; an inferred
    partition column comes back as the directory-value type."""
    extra = [c for c in df.columns if c not in POINT_COLS]
    return df.select(
        *POINT_COLS[:5],
        F.col("hour_bucket").cast("long").alias("hour_bucket"),
        *extra,
    )


def hour_bucket_bounds(ts_min: int | None, ts_max: int | None) -> Column | None:
    """ts bounds → hour_bucket partition predicate (SURVEY §4.1). A point at
    ts lives in partition (ts div 3600)*3600, so ts ∈ [mn, mx] implies
    hour_bucket ∈ [floor(mn), floor(mx)]."""
    conds: list[Column] = []
    if ts_min is not None:
        conds.append(
            F.col("hour_bucket") >= (ts_min // SECONDS_PER_HOUR) * SECONDS_PER_HOUR
        )
    if ts_max is not None:
        conds.append(
            F.col("hour_bucket") <= (ts_max // SECONDS_PER_HOUR) * SECONDS_PER_HOUR
        )
    if not conds:
        return None
    pred = conds[0]
    for c in conds[1:]:
        pred = pred & c
    return pred


def scan_range(
    spark: SparkSession,
    path: str,
    series_id: int | None = None,
    start: int | None = None,
    end: int | None = None,
    store=None,
) -> DataFrame:
    """Engine.queryRange (engine.zig:376-378): partition pruning via derived
    hour_bucket bounds + row-group skipping via the (series_id, ts) sort."""
    return where_range(read_points(spark, path, store=store), series_id, start, end)


def where_range(
    df: DataFrame,
    series_id: int | Column | None = None,
    start: int | None = None,
    end: int | None = None,
) -> DataFrame:
    """One series over ``ts`` ∈ [start, end]: the series_id and ts filters,
    plus the derived hour_bucket bounds when ``df`` has that column.
    ``series_id`` may be a constant Column (``model.series_id_literal``);
    Catalyst folds it, so the scan still filters on a pushed literal."""
    hb = hour_bucket_bounds(start, end) if "hour_bucket" in df.columns else None
    if hb is not None:
        df = df.where(hb)
    if series_id is not None:
        df = df.where(F.col("series_id") == series_id)
    if start is not None:
        df = df.where(F.col("ts") >= start)
    if end is not None:
        df = df.where(F.col("ts") <= end)
    return df


# --- compaction (dedup) -------------------------------------------------------
def compact_points(df: DataFrame, order_col: str | None = None) -> DataFrame:
    """(series_id, ts) last-wins dedup (compact.zig:36-49). ``order_col`` is
    the ingest order (e.g. a WAL sequence); without one, max(value) is the
    documented deterministic tiebreak. Single shuffle on (series_id, ts);
    map-side combine keeps it partial-aggregating."""
    # struct wrapper (r13 review): max_by SKIPS rows whose ordering key is
    # null, so a (series_id, ts) group whose every duplicate has value=null
    # aggregated to a NULL __row — an all-null row with its identity
    # destroyed. struct(null) is a non-null ordering key (null field sorts
    # lowest), so a non-null value still wins and an all-null group keeps
    # one intact row instead of corrupting the table.
    order = F.col(order_col) if order_col else F.struct(F.col("value"))
    payload = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.groupBy("series_id", "ts")
        .agg(F.max_by(payload, order).alias("__row"))
        .select("__row.*")
    )


def _swap_dir(staged: Path, live: Path) -> None:
    """Replace ``live`` with ``staged`` via rename → rename → remove. The only
    crash window leaves ``live`` momentarily absent with the old data intact
    at ``<live>.old`` (recoverable by hand); the previous remove-then-rename
    order could lose the partition outright. True atomicity needs a table
    format's commit (Delta/Iceberg) — this is the best a bare filesystem
    rename gives."""
    old = live.with_name(live.name + ".old")
    if old.exists():
        shutil.rmtree(old)
    if live.exists():
        live.rename(old)
    staged.rename(live)
    shutil.rmtree(old, ignore_errors=True)


def compact_storage(
    spark: SparkSession, path: str, order_col: str | None = None, store=None
) -> None:
    """Rewrite the stored table deduped (the reference's segment-merge job).

    Manifested tables (either backend) compact through a STAGED MANIFEST
    FLIP (r14, VERDICT r13 item 2): the deduped rows stage into the live
    layout and ONE commit swaps the file list — readers never see the
    table absent (the old ``_swap_dir`` left a crash window where the live
    directory did not exist, and a concurrent reader mid-scan crashed).
    The commit's ``mutate`` drops exactly the snapshot-version files this
    rewrite read, so a concurrent append mid-compaction rides through to
    the new version instead of being lost, and ``commit_cas`` carries the
    txn ledger forward — a streaming batch whose checkpoint commit is
    still pending cannot re-append after compaction (replay guard
    survives rewrites). Old files are reclaimed by vacuum.

    Pre-manifest plain tables keep the legacy staged-copy + dir swap (the
    best a bare filesystem gives without a manifest to flip)."""
    from sydradb_spark import manifest as mf

    local = _posix_table_path(path)
    if store is None:
        _require_posix(path, "compact_storage(store=None)")
        path = str(local)
        manifested = mf.has_manifest(path)
    else:
        manifested = _pm_latest(path, store) is not None
    if manifested:
        snap_v = _pm_latest(path, store)
        compacted = compact_points(
            read_points_version(spark, path, snap_v, store=store), order_col
        )
        moved = _publish_staged(_shaped(compacted), path, spark)
        rewritten = set(_pm_files(path, store, version=snap_v))
        _pm_commit(
            path,
            store,
            mutate=lambda old: [f for f in old if f not in rewritten] + moved,
        )
        return
    compacted = compact_points(read_points(spark, path), order_col)
    tmp = path.rstrip("/") + ".compact.tmp"
    write_points(compacted, tmp, mode="overwrite")
    mf.carry_ledger(path, tmp)
    _swap_dir(Path(tmp), Path(path))


# --- retention (TTL) ----------------------------------------------------------
def retention_keep_predicate(
    now_epoch: int, ttl_days: dict[str, int], default_days: int | None = None
) -> Column:
    """Per-namespace TTL (config.zig:101-105; retention.zig:4-20): a point
    expires when now - (hour_bucket + 3600) > ttl. Namespace = series text
    before the first '.'."""
    ns = F.split(F.col("series"), r"\.").getItem(0)
    age = F.lit(now_epoch) - (F.col("hour_bucket") + SECONDS_PER_HOUR)
    keep = (
        F.lit(True)
        if default_days is None
        else age <= default_days * 86400
    )
    for namespace, days in ttl_days.items():
        keep = F.when(ns == namespace, age <= days * 86400).otherwise(keep)
    return keep


def apply_retention(
    df: DataFrame,
    now_epoch: int,
    ttl_days: dict[str, int],
    default_days: int | None = None,
) -> DataFrame:
    return df.where(retention_keep_predicate(now_epoch, ttl_days, default_days))


def drop_expired_partitions(
    path: str, cutoff_hour_bucket: int, store=None
) -> list[int]:
    """Global-TTL fast path: drop hour_bucket=N partitions with
    N + 3600 <= cutoff. Pure metadata — no data read/rewritten, which is
    what makes retention O(partitions) instead of O(rows) at 100 TB.
    Manifest tables (either backend) commit a filtered file list (one
    atomic pointer flip; physical files go with vacuum); plain tables
    remove the directories. Returns the dropped bucket values."""
    from sydradb_spark import manifest as mf

    def _expired(bucket: int) -> bool:
        return bucket + SECONDS_PER_HOUR <= cutoff_hour_bucket

    if store is None:
        path = str(_require_posix(path, "drop_expired_partitions(store=None)"))
    if _pm_has(path, store):
        files = _pm_files(path, store)
        dropped = sorted(
            {
                int(f.split("=", 1)[1].split("/", 1)[0])
                for f in files
                if _expired(int(f.split("=", 1)[1].split("/", 1)[0]))
            }
        )
        if dropped:
            _pm_commit(
                path,
                store,
                mutate=lambda old: [
                    f
                    for f in old
                    if not _expired(int(f.split("=", 1)[1].split("/", 1)[0]))
                ],
            )
        return dropped
    if store is not None:
        return []  # store-manifested table with no manifest yet: nothing

    dropped = []
    root = Path(path)
    for d in root.glob("hour_bucket=*"):
        bucket = int(d.name.split("=", 1)[1])
        if _expired(bucket):
            shutil.rmtree(d)
            dropped.append(bucket)
    return sorted(dropped)


def optimize_partitions(
    spark: SparkSession,
    path: str,
    max_files_per_partition: int = 4,
    store=None,
) -> list[int]:
    """Merge small files within hour partitions — the maintenance job that
    keeps streaming appends (one file per micro-batch per partition) from
    degrading scans. Only partitions exceeding ``max_files_per_partition``
    are rewritten: their rows re-shuffle into one file per hour value,
    append into the live layout, and a single manifest commit swaps the
    file lists atomically (readers never see a partial merge). Returns the
    optimized hour_bucket values. Plain tables: use ``compact_storage``."""
    from collections import defaultdict

    if store is None:
        path = str(_require_posix(path, "optimize_partitions(store=None)"))
    if not _pm_has(path, store):
        raise ValueError("optimize_partitions requires a manifest table")
    files = _pm_files(path, store)
    by_part: dict[int, list[str]] = defaultdict(list)
    for f in files:
        by_part[int(f.split("=", 1)[1].split("/", 1)[0])].append(f)
    targets = sorted(
        b for b, fs in by_part.items() if len(fs) > max_files_per_partition
    )
    if not targets:
        return []
    target_files = [f for b in targets for f in by_part[b]]
    shaped = _shaped(_read_files(spark, path, target_files))
    # private staging + exact moved list (r13 review): a direct
    # mode("append") with a before/after data_files() diff both shares
    # Hadoop's _temporary/0 with concurrent appenders AND double-commits
    # any file they rename in during this job's window
    new = _publish_staged(shaped, path, spark)
    dropped = set(target_files)
    _pm_commit(
        path, store, mutate=lambda old: [f for f in old if f not in dropped] + new
    )
    return targets


# --- snapshot / restore -------------------------------------------------------
def snapshot(path: str, dest: str, store=None) -> None:
    """Consistent copy of the stored table (reference snapshot.zig:3-47 copies
    MANIFEST + wal/ + segments/ + tags.json).

    Manifest tables snapshot in O(metadata): hardlink the LATEST version's
    data files (immutable once committed — writers only ever add files) and
    commit a fresh local manifest at ``dest`` — no data bytes move, which
    is the only snapshot that works at 100 TB (the same trick as a
    table-format snapshot / cheap clone). Plain tables fall back to a full
    copy. ``store=`` snapshots a store-manifested table whose DATA lives on
    a local path (the snapshot itself is always a local-manifested table);
    URI data locations are rejected loudly — hardlinks don't exist there,
    and a full remote copy is a job, not a metadata operation."""
    from sydradb_spark import manifest as mf
    from sydradb_spark import objectstore as obs

    local = _require_posix(path, "snapshot (hardlink clone of the data files)")
    dest = str(_require_posix(dest, "snapshot destination"))
    path = str(local)
    if Path(dest).exists():
        raise FileExistsError(f"snapshot destination exists: {dest}")
    if store is None and not mf.has_manifest(path):
        shutil.copytree(path, dest)
        return
    src_root, dst_root = Path(path), Path(dest)
    # ONE pinned version for the file list AND the ledger: resolving LATEST
    # twice lets a commit landing in between pair version N's files with
    # version N+1's ledger — a replay guard claiming batches whose rows the
    # snapshot does not hold
    version = _pm_latest(path, store)
    files = _pm_files(path, store, version=version)
    dst_root.mkdir(parents=True)
    import os

    for rel in files:
        target = dst_root / rel
        target.parent.mkdir(parents=True, exist_ok=True)
        try:
            os.link(src_root / rel, target)
        except OSError:  # cross-device etc. → real copy
            shutil.copy2(src_root / rel, target)
    # fresh v1 manifest listing exactly the snapshotted files, plus the
    # source's txn ledger (r13 review): restoring a snapshot WITHOUT the
    # ledger erases the streaming replay guard — a checkpoint-replayed
    # batch would re-append after the restore. Same reason compact_storage
    # carries it through whole-table rewrites.
    ledger = (
        mf.read_ledger(path, version)
        if store is None
        else obs.read_ledger(store, POINTS_STORE_TABLE, version)
    )
    mf.commit_replace(dest, files, ledger)


def restore(snapshot_path: str, path: str, store=None) -> None:
    """Replace the live table with a snapshot.

    Manifested live tables restore through a STAGED MANIFEST FLIP (r14,
    VERDICT r13 item 2): link/copy the snapshot's manifest-listed files
    into the live layout (part names are unique per write job, so an
    identical name can only be the identical immutable file — skipped) and
    commit the snapshot's file list AND LEDGER as a full replacement
    (``commit_replace`` — the replay guard rewinds with the data, so a
    streaming batch delivered after the snapshot re-appends into the
    restored table instead of no-op'ing against a future ledger). Readers
    never see the table absent; the pre-restore files stay until vacuum.

    Pre-manifest live tables keep the legacy staged copy + dir swap.
    ``store=`` restores a store-manifested live table (local data path)."""
    import os

    from sydradb_spark import manifest as mf
    from sydradb_spark import objectstore as obs

    snap_local = _require_posix(snapshot_path, "restore (snapshot source)")
    live_local = _require_posix(path, "restore (live table data)")
    path = str(live_local)
    live_manifested = (
        _pm_latest(path, store) is not None
        if store is not None
        else (live_local.exists() and mf.has_manifest(path))
    )
    snap_manifested = mf.has_manifest(str(snap_local))
    if store is not None and not snap_manifested:
        # the legacy dir-swap fallback would replace the data while the
        # STORE manifest kept referencing the removed files — store-mode
        # readers would break silently (r14 self-review)
        raise ValueError(
            f"restore(store=...) needs a manifested snapshot; {snapshot_path!r} "
            "has no _manifest (pre-manifest copytree snapshot)"
        )
    if (live_manifested or store is not None) and snap_manifested:
        files = mf.read_files(str(snap_local))
        for rel in files:
            dst = live_local / rel
            if dst.exists():
                continue
            dst.parent.mkdir(parents=True, exist_ok=True)
            try:
                os.link(snap_local / rel, dst)
            except OSError:  # cross-device etc. → real copy
                shutil.copy2(snap_local / rel, dst)
            os.utime(dst)  # publication stamp for the vacuum age guard
        ledger = mf.read_ledger(str(snap_local))
        if store is None:
            mf.commit_replace(path, files, ledger)
        else:
            obs.commit_replace(store, POINTS_STORE_TABLE, files, ledger)
        return
    live = Path(path)
    tmp = Path(path.rstrip("/") + ".restore.tmp")
    if tmp.exists():
        shutil.rmtree(tmp)
    shutil.copytree(str(snap_local), tmp)
    _swap_dir(tmp, live)


# --- durable DELETE -----------------------------------------------------------
def delete_where(
    spark: SparkSession,
    path: str,
    predicate: Column,
    ts_min: int | None = None,
    ts_max: int | None = None,
    store=None,
) -> None:
    """Partition-scoped anti-filter rewrite: only hour partitions overlapping
    the time bounds are read and rewritten; untouched partitions are never
    opened.

    Manifest tables get a true ATOMIC commit: replacement files append into
    the live layout (Parquet part names never collide), then one manifest
    commit drops every old file of the affected partitions and adds the new
    ones — a crash at any point leaves LATEST on a fully consistent version
    (the reference's MANIFEST swap; what Delta/Iceberg REPLACE WHERE does).
    Pre-manifest tables keep the staged rename-before-remove dir swap."""
    if store is None:
        path = str(_require_posix(path, "delete_where(store=None)"))

    # pin ONE manifest snapshot for both the read plan and the commit's
    # drop list — read_points would take its own LATEST, and a commit
    # landing between two listings would desynchronize them
    snapshot_version = _pm_latest(path, store) if _pm_has(path, store) else None
    df = (
        read_points_version(spark, path, snapshot_version, store=store)
        if snapshot_version is not None
        else read_points(spark, path, store=store)
    )
    hb = hour_bucket_bounds(ts_min, ts_max)
    scoped = df.where(hb) if hb is not None else df
    affected = [r[0] for r in scoped.select("hour_bucket").distinct().collect()]
    if not affected:
        return
    remaining = scoped.where(~F.coalesce(predicate, F.lit(False)))

    if snapshot_version is not None:
        # drop EXACTLY the files this rewrite read (the snapshot version's
        # affected-partition files), not everything under the partition
        # prefixes (r13 review): a concurrent append into an affected hour
        # lands files the DELETE's predicate never evaluated — a prefix
        # drop would silently delete those rows, and a before/after
        # directory diff would double-commit them
        affected_dirs = tuple(f"hour_bucket={b}/" for b in affected)
        rewritten = {
            f
            for f in _pm_files(path, store, version=snapshot_version)
            if f.startswith(affected_dirs)
        }
        new = _publish_staged(_shaped(remaining), path, spark)
        _pm_commit(
            path,
            store,
            mutate=lambda old: [f for f in old if f not in rewritten] + new,
        )
        return

    tmp = path.rstrip("/") + ".delete.tmp"
    if Path(tmp).exists():
        shutil.rmtree(tmp)
    write_points(remaining, tmp, mode="overwrite")
    for bucket in affected:
        live_dir = Path(path) / f"hour_bucket={bucket}"
        staged = Path(tmp) / f"hour_bucket={bucket}"
        if staged.exists():
            _swap_dir(staged, live_dir)
        elif live_dir.exists():  # absent = every row in the partition deleted
            shutil.rmtree(live_dir)
    shutil.rmtree(tmp, ignore_errors=True)


# --- vacuum (backend-dispatched) -----------------------------------------------
def vacuum_points(
    path: str,
    store=None,
    keep_versions: int = 2,
    min_age_seconds: int = 600,
    spark: SparkSession | None = None,
) -> list[str]:
    """Reclaim data files unreferenced by the retained manifest versions —
    the points-table twin of ``rollup_stream.vacuum_rollup`` (r14).

    ``store=None`` delegates to ``manifest.vacuum`` (POSIX paths only —
    URIs rejected loudly by the manifest module). With ``store=``, version
    pruning runs through the objectstore protocol and the DATA pass walks
    local paths with the stdlib or URI locations through the Hadoop FS API
    via ``spark``; without a session a non-local data pass is SKIPPED with
    a logged warning (version pruning still runs; entries wait for a
    vacuum that has one — the streaming sink's in-sink maintenance always
    passes its session). Age guards mirror ``manifest.vacuum``: files and
    staging trees younger than ``min_age_seconds`` (newest mtime anywhere
    inside) are never touched."""
    import time

    from sydradb_spark import manifest as mf
    from sydradb_spark.manifest import _tree_mtime

    if store is None:
        return mf.vacuum(
            path, keep_versions=keep_versions, min_age_seconds=min_age_seconds
        )
    from sydradb_spark import objectstore as obs

    obs.vacuum_versions(store, POINTS_STORE_TABLE, keep_versions=keep_versions)
    kept: set[str] = set()
    read_versions = 0
    pre = f"{POINTS_STORE_TABLE}/_manifest/"
    for key in store.list(pre + "v"):
        try:
            kept.update(
                obs.read_files(store, POINTS_STORE_TABLE, int(key[len(pre) + 1 : -5]))
            )
            read_versions += 1
        except (ValueError, FileNotFoundError):
            continue  # racing a concurrent vacuum
    if not read_versions:
        # no readable version = no keep-set at all, not an empty table: an
        # emptied or failed listing would otherwise reclaim EVERY data file
        # past the age window, committed ones included
        raise RuntimeError(
            f"vacuum_points({path!r}): the store lists no readable manifest "
            "version — refusing to reclaim data files without a keep-set"
        )
    now = time.time()
    removed: list[str] = []
    local = _posix_table_path(path)
    if local is not None:
        root = Path(local)
        if not root.exists():
            return []

        def _young(p: Path) -> bool:
            try:
                return now - p.stat().st_mtime < min_age_seconds
            except FileNotFoundError:
                return True  # racing its creator — leave it alone

        for f in root.glob("hour_bucket=*/*.parquet"):
            rel = str(f.relative_to(root))
            if rel in kept or _young(f):
                continue
            f.unlink(missing_ok=True)
            crc = f.with_name(f".{f.name}.crc")
            crc.unlink(missing_ok=True)
            removed.append(rel)
        for stg in root.glob(".staging-*"):
            if stg.is_dir() and now - _tree_mtime(stg) >= min_age_seconds:
                shutil.rmtree(stg, ignore_errors=True)
    elif spark is not None:
        from sydradb_spark.util import hadoop_fs

        jvm, fs, jroot = hadoop_fs(spark, path)
        if not fs.exists(jroot):
            return []
        for part in fs.listStatus(jroot):
            pname = part.getPath().getName()
            if part.isDirectory() and pname.startswith(".staging-"):
                newest = part.getModificationTime() / 1000.0
                it = fs.listFiles(part.getPath(), True)
                while it.hasNext():
                    newest = max(newest, it.next().getModificationTime() / 1000.0)
                if now - newest >= min_age_seconds:
                    fs.delete(part.getPath(), True)
                continue
            if not (part.isDirectory() and pname.startswith("hour_bucket=")):
                continue
            for f in fs.listStatus(part.getPath()):
                name = f.getPath().getName()
                if not name.endswith(".parquet") or name.startswith("."):
                    continue
                rel = f"{pname}/{name}"
                if rel in kept or now - f.getModificationTime() / 1000.0 < min_age_seconds:
                    continue
                fs.delete(f.getPath(), False)
                removed.append(rel)
    else:
        # no session to reach the URI filesystem — manifest-only vacuum;
        # NOT silent (VERDICT r13 item 4's pattern): a bare cron-style call
        # would otherwise reclaim nothing forever without a signal
        __import__("logging").getLogger("sydradb_spark.maintenance").warning(
            "vacuum_points(%s): data pass SKIPPED — URI data location and no "
            "SparkSession to reach it; only manifest versions were pruned",
            path,
        )
    return sorted(removed)
