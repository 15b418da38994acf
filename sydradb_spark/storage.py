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
- ``read_points``: open one manifest version (LATEST, or ``version=`` for
  time travel) — its exact file list, listed on the driver and read with a
  declared schema (one footer's stored columns, read on the driver, plus
  ``hour_bucket``), so a POSIX table opens without a Spark job.
- ``hour_bucket_bounds``: the ONE rewrite Catalyst cannot do for us (SURVEY
  §4.1): derive hour_bucket partition predicates from ts predicates so a
  time-ranged query prunes partitions instead of scanning all of them.
- ``compact_points`` / ``apply_retention`` / ``drop_expired_partitions``:
  the compaction dedup (compact.zig:36-49, (series_id, ts) last-wins) and
  TTL jobs (retention.zig:4-20) as batch jobs. Partition drops are
  manifest commits — no data rewrite.

Every mutation commits through the manifest. A plain directory (written
without one) is adopted first: its ``data_files`` listing is committed as
a version, then the mutation commits on top of it. Reads of a plain
directory create nothing.

Data files are listed, published, deleted and vacuumed through
``datafs``, once for a local path and a Hadoop-reachable URI alike; only
``snapshot``/``restore`` (hardlinks) are POSIX-only.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sydradb_spark import datafs
from sydradb_spark import manifest as mf
from sydradb_spark.model import SECONDS_PER_HOUR

POINT_COLS = ["series_id", "series", "tags", "ts", "value", "hour_bucket"]

# the store key a caller-supplied ObjectStore keeps the points manifest
# under; scope the store to ONE table (rollup_stream.STORE_TABLE is the
# rollup's)
POINTS_STORE_TABLE = mf.POINTS_KEY


def _require_posix(path: str, op: str) -> Path:
    """Loud non-POSIX triage (VERDICT r13 item 1): ``Path('s3a://b/t')`` is
    the RELATIVE local directory ``s3a:/b/t`` on which mkdir/rename/link all
    SUCCEED — a POSIX-only operation fed a URI silently splits the table
    across two filesystems instead of failing. Every Path/shutil-based
    entry point triages here first."""
    local = datafs.local_path(path)
    if local is None:
        raise ValueError(
            f"{op} is a POSIX-filesystem operation and cannot run on "
            f"{path!r}: pass store= (an objectstore.ObjectStore scoped to "
            "this table) so the manifest commits through the store's "
            "conditional PUT, and data operations route through the Hadoop "
            "FS API"
        )
    return Path(local)


# --- manifest ----------------------------------------------------------------
# Every table commits through the one protocol in ``sydradb_spark.manifest``,
# resolved from (path, store): ``store=None`` → the table directory's own
# ``_manifest/`` (POSIX paths only — a URI is rejected loudly by the
# resolver); ``store=<ObjectStore>`` → the store's ``points/_manifest/``,
# with the DATA files living wherever ``path`` points (local or any
# Hadoop-reachable URI). Storage calls ``mf.commit`` as a module attribute,
# so a tracer that wraps it sees every commit.


def data_files(path: str, spark: SparkSession | None = None) -> list[str]:
    """Every visible parquet data file in the table's hour partitions,
    committed or not (relative paths). A URI location needs ``spark``."""
    fs = datafs.open_fs(path, spark)
    return sorted(_parts(fs, ""))


def _parts(fs, root: str) -> list[str]:
    """The visible ``hour_bucket=*/*.parquet`` files under ``root``,
    relative to it (Spark's file index skips hidden names too)."""
    pre = f"{root}/" if root else ""
    return [
        f"{part}/{name}"
        for part, is_dir, _ in fs.list(root)
        if is_dir and part.startswith("hour_bucket=")
        for name, f_dir, _ in fs.list(pre + part)
        if not f_dir and name.endswith(".parquet") and name[0] != "."
    ]


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

    One path for every table and mode: stage, then commit. The rows are
    written through a PRIVATE ``.staging-<uuid>/`` dir and the part files
    renamed into the live layout (``_stage_and_publish``), then one manifest
    commit (``mf.commit``) publishes them, so readers flip between
    consistent versions atomically:

    - an append to a manifested table commits ``mutate=old + moved``, so a
      concurrent committer's files are never dropped;
    - any other write commits a full list: ``moved`` for an overwrite (a
      manifest-level flip — old files stay until vacuum and readers mid-scan
      keep them; a Spark directory truncation would delete ``_manifest/``,
      the version history and every app's txn ledger with them), and for an
      append to a table without a manifest, the files already there plus
      ``moved`` — the plain directory is adopted, as ``init_points_table``
      adopts it.

    Private staging is what makes concurrent appends safe (r12): Spark's
    ``mode("append")`` shares Hadoop's ``_temporary/0`` staging across
    jobs, so two appenders to one table destroyed each other's in-flight
    staging. It also gives the commit the EXACT moved file list, and a
    crash between the renames and the commit leaves only unreferenced
    orphans. Hidden dot-dirs are invisible to Spark's file index and to
    ``data_files``; crashed staging dirs are reclaimed by ``vacuum_points``.

    ``txn=(app_id, txn_version)`` makes the write idempotent: a write whose
    txn is already in the manifest's ledger (a replayed streaming batch —
    reference WAL replay-above-highwater guard, engine.zig:406-437) is a
    no-op. The pre-check skips the parquet write entirely on the common
    replay path (in every mode: an overwrite replay must not stage over a
    ledger that already holds it); the commit re-checks inside the CAS
    loop, so a replay that staged files but loses the ledger check leaves
    only unreferenced orphans — LATEST never sees a duplicate row. An empty
    batch still commits, so the ledger records it.

    ``store=None`` keeps the manifest in the table directory and REQUIRES a
    POSIX path — a URI location raises instead of committing the
    exactly-once ledger to a relative local ``s3a:/...`` directory while
    the data goes to the store. Object-store tables pass ``store=`` (an
    ``objectstore.ObjectStore`` scoped to this table); the data staging
    then routes through the Hadoop FS API when ``path`` is a URI."""
    # __ns/__tsr/__ssrc are the events-adapter pushdown hints
    # (tables.normalize_events / events_points) — redundant with ts/series;
    # stored tables prune via hour_bucket, and series is a real stored
    # column so its filters push natively.
    for hint in ("__ns", "__tsr", "__ssrc"):
        if hint in df.columns:
            df = df.drop(hint)
    spark = df.sparkSession
    cur = mf.latest_version(path, store=store)  # a URI without store= raises
    if txn is not None and cur is not None:
        last = mf.read_txn(path, txn[0], store=store)
        if last is not None and last >= txn[1]:
            return  # replayed batch — this txn is already durable
    adopted = data_files(path, spark) if mode == "append" and cur is None else []
    moved = _stage_and_publish(_shaped(df), path, spark)
    if mode == "append" and cur is not None:
        mf.commit(path, mutate=lambda old: old + moved, txn=txn, store=store)
    else:
        mf.commit(path, adopted + moved, txn=txn, store=store)


def _stage_and_publish(shaped_writer, path: str, spark: SparkSession) -> list[str]:
    """Write through a PRIVATE ``.staging-<uuid>/`` dir inside the table and
    rename the part files into the live layout, returning the EXACT
    moved-file list for the manifest commit. This is the only safe append
    shape under concurrent committers (r12 + r13 reviews): Spark's
    ``mode("append")`` into the live path shares Hadoop's ``_temporary/0``
    staging across jobs, and a before/after ``data_files()`` diff
    double-commits (or drops) a concurrent appender's files."""
    import uuid

    fs = datafs.open_fs(path, spark)
    stage = f".staging-{uuid.uuid4().hex}"
    try:
        shaped_writer.mode("overwrite").parquet(fs.path(stage))
        moved = sorted(_parts(fs, stage))
        for rel in moved:
            fs.rename(f"{stage}/{rel}", rel)
    finally:
        fs.delete(stage)
    return moved


def table_version(path: str, store=None) -> int | None:
    """The table's LATEST manifest version; None for a pre-manifest table
    (or a URI location read without its store, which cannot carry a POSIX
    manifest)."""
    if store is None and datafs.local_path(path) is None:
        return None
    return mf.latest_version(path, store=store)


def read_points(
    spark: SparkSession, path: str, store=None, version: int | None = None
) -> DataFrame:
    """Read the table's manifest ``version``, LATEST by default (plain
    directory read for pre-manifest tables); an older committed version is
    time travel (files are immutable and retained until vacuum).
    ``store=`` reads a store-manifested table's entry list from the store;
    a URI path WITHOUT a store reads LATEST as a plain directory (no
    manifest can live there — a store-manifested URI table must be read
    with its store, or the read would include uncommitted staged
    orphans)."""
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

    local = datafs.local_path(path)
    if version is None:
        if store is None and local is None:
            return _canonical(spark.read.parquet(path))  # plain URI directory
        version = mf.latest_version(path, store=store)
        if version is None:
            if store is not None:
                return spark.createDataFrame([], POINTS_SCHEMA)
            return _canonical(spark.read.parquet(local))  # pre-manifest table
    files = mf.read_files(path, version, store=store)  # a URI w/o store raises
    if not files:
        return spark.createDataFrame([], POINTS_SCHEMA)
    return _read_files(spark, local or path, files)


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
    local = datafs.local_path(data_file)
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


def _adopt(path: str, spark: SparkSession | None, store=None) -> int:
    """The table's LATEST version; a table without a manifest is adopted
    first by committing its ``data_files`` listing as a version."""
    v = mf.latest_version(path, store=store)  # a URI without store= raises
    if v is None:
        v = mf.commit(path, data_files(path, spark), store=store)
    return v


def compact_storage(
    spark: SparkSession, path: str, order_col: str | None = None, store=None
) -> None:
    """Rewrite the stored table deduped (the reference's segment-merge job).

    Compaction is a STAGED MANIFEST FLIP (r14, VERDICT r13 item 2): the
    deduped rows stage into the live layout and ONE commit swaps the file
    list — readers never see the table absent (a directory swap left a
    crash window where the live directory did not exist, and a concurrent
    reader mid-scan crashed). The commit's ``mutate`` drops exactly the
    snapshot-version files this rewrite read, so a concurrent append
    mid-compaction rides through to the new version instead of being lost,
    and the commit carries the txn ledger forward — a streaming batch whose
    checkpoint commit is still pending cannot re-append after compaction.
    Old files are reclaimed by vacuum. A table without a manifest is
    adopted first (``_adopt``)."""
    snap_v = _adopt(path, spark, store)
    compacted = compact_points(
        read_points(spark, path, store=store, version=snap_v), order_col
    )
    moved = _stage_and_publish(_shaped(compacted), path, spark)
    rewritten = set(mf.read_files(path, snap_v, store=store))
    mf.commit(
        path,
        mutate=lambda old: [f for f in old if f not in rewritten] + moved,
        store=store,
    )


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
    what makes retention O(partitions) instead of O(rows) at 100 TB. The
    drop commits a filtered file list (one atomic pointer flip; physical
    files go with vacuum). A plain POSIX table is adopted first
    (``_adopt``); a store-backed table with no manifest yet has no
    committed files and drops nothing. Returns the dropped bucket
    values."""

    def _expired(rel: str) -> bool:  # "hour_bucket=N[/file]"
        return _bucket(rel) + SECONDS_PER_HOUR <= cutoff_hour_bucket

    if store is not None and not mf.has_manifest(path, store=store):
        return []
    files = mf.read_files(path, _adopt(path, None, store), store=store)
    dropped = sorted({_bucket(f) for f in files if _expired(f)})
    if dropped:
        mf.commit(
            path,
            mutate=lambda old: [f for f in old if not _expired(f)],
            store=store,
        )
    return dropped


def _bucket(rel: str) -> int:
    """The hour_bucket of a relative data path or partition dir name."""
    return int(rel.split("=", 1)[1].split("/", 1)[0])


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

    if not mf.has_manifest(path, store=store):
        raise ValueError("optimize_partitions requires a manifest table")
    by_part: dict[int, list[str]] = defaultdict(list)
    for f in mf.read_files(path, store=store):
        by_part[_bucket(f)].append(f)
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
    new = _stage_and_publish(shaped, path, spark)
    dropped = set(target_files)
    mf.commit(
        path, mutate=lambda old: [f for f in old if f not in dropped] + new, store=store
    )
    return targets


# --- snapshot / restore -------------------------------------------------------
def snapshot(path: str, dest: str, store=None) -> None:
    """Consistent copy of the stored table (reference snapshot.zig:3-47 copies
    MANIFEST + wal/ + segments/ + tags.json).

    A snapshot is O(metadata): hardlink the LATEST version's data files
    (immutable once committed — writers only ever add files) and commit a
    fresh local manifest at ``dest`` — no data bytes move, which is the
    only snapshot that works at 100 TB (the same trick as a table-format
    snapshot / cheap clone). A plain source table (no manifest) is cloned
    the same way from its ``data_files`` listing, with an empty txn ledger,
    and is itself left untouched. ``store=`` snapshots a store-manifested
    table whose DATA lives on a local path (the snapshot itself is always a
    local-manifested table); URI data locations are rejected loudly —
    hardlinks don't exist there, and a full remote copy is a job, not a
    metadata operation."""
    src_root = _require_posix(path, "snapshot (hardlink clone of the data files)")
    dst_root = _require_posix(dest, "snapshot destination")
    if dst_root.exists():
        raise FileExistsError(f"snapshot destination exists: {dest}")
    if not src_root.exists():
        raise FileNotFoundError(f"snapshot source does not exist: {path}")
    # ONE pinned version for the file list AND the ledger: resolving LATEST
    # twice lets a commit landing in between pair version N's files with
    # version N+1's ledger — a replay guard claiming batches whose rows the
    # snapshot does not hold
    version = mf.latest_version(path, store=store)
    if version is None and store is None:
        files, ledger = data_files(path), {}
    else:
        files = mf.read_files(path, version, store=store)
        ledger = mf.read_ledger(path, version, store=store)
    dst_root.mkdir(parents=True)
    _link_files(src_root, dst_root, files)
    # fresh v1 manifest listing exactly the snapshotted files, plus the
    # source's txn ledger (r13 review): restoring a snapshot WITHOUT the
    # ledger erases the streaming replay guard — a checkpoint-replayed
    # batch would re-append after the restore. Same reason compact_storage
    # carries it through whole-table rewrites.
    mf.commit_replace(str(dst_root), files, ledger)


def _link_files(src_root: Path, dst_root: Path, files: list[str]) -> None:
    """Hardlink (or, across devices, copy) each relative file of
    ``src_root`` into ``dst_root``, stamping publication time for the
    vacuum age guard. Part names are unique per write job, so a name
    already present is the identical immutable file and is skipped."""
    import os

    for rel in files:
        dst = dst_root / rel
        if dst.exists():
            continue
        dst.parent.mkdir(parents=True, exist_ok=True)
        try:
            os.link(src_root / rel, dst)
        except OSError:  # cross-device etc. → real copy
            shutil.copy2(src_root / rel, dst)
        os.utime(dst)


def restore(snapshot_path: str, path: str, store=None) -> None:
    """Replace the live table with a snapshot through a STAGED MANIFEST
    FLIP (r14, VERDICT r13 item 2): link/copy the snapshot's manifest-listed
    files into the live layout and commit the snapshot's file list AND
    LEDGER as a full replacement (``commit_replace`` — the replay guard
    rewinds with the data, so a streaming batch delivered after the
    snapshot re-appends into the restored table instead of no-op'ing
    against a future ledger). Readers never see the table absent; the
    pre-restore files stay until vacuum. A plain live table is adopted by
    the same commit (its old files become unreferenced). ``store=``
    restores a store-manifested live table (local data path).

    A snapshot without a manifest is refused on both backends — a restore
    never guesses a file list; ``ingest.init_points_table`` adopts such a
    directory."""
    snap_local = _require_posix(snapshot_path, "restore (snapshot source)")
    live_local = _require_posix(path, "restore (live table data)")
    snap_v = mf.latest_version(str(snap_local))
    if snap_v is None:
        raise ValueError(
            f"restore needs a manifested snapshot; {snapshot_path!r} has no "
            "_manifest — adopt it first with "
            "ingest.init_points_table(spark, snapshot_path)"
        )
    files = mf.read_files(str(snap_local), snap_v)
    _link_files(snap_local, live_local, files)
    ledger = mf.read_ledger(str(snap_local), snap_v)
    mf.commit_replace(path, files, ledger, store=store)


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

    The rewrite is an ATOMIC manifest commit: replacement files append into
    the live layout (Parquet part names never collide), then one manifest
    commit drops every old file of the affected partitions and adds the new
    ones — a crash at any point leaves LATEST on a fully consistent version
    (the reference's MANIFEST swap; what Delta/Iceberg REPLACE WHERE does).
    A plain table is adopted first (``_adopt``), so it takes the same
    commit."""
    # pin ONE manifest snapshot for both the read plan and the commit's
    # drop list — read_points would take its own LATEST, and a commit
    # landing between two listings would desynchronize them
    snapshot_version = _adopt(path, spark, store)
    df = read_points(spark, path, store=store, version=snapshot_version)
    hb = hour_bucket_bounds(ts_min, ts_max)
    scoped = df.where(hb) if hb is not None else df
    affected = [r[0] for r in scoped.select("hour_bucket").distinct().collect()]
    if not affected:
        return
    remaining = scoped.where(~F.coalesce(predicate, F.lit(False)))
    # drop EXACTLY the files this rewrite read (the snapshot version's
    # affected-partition files), not everything under the partition
    # prefixes (r13 review): a concurrent append into an affected hour
    # lands files the DELETE's predicate never evaluated — a prefix drop
    # would silently delete those rows, and a before/after directory diff
    # would double-commit them
    affected_dirs = tuple(f"hour_bucket={b}/" for b in affected)
    rewritten = {
        f
        for f in mf.read_files(path, snapshot_version, store=store)
        if f.startswith(affected_dirs)
    }
    new = _stage_and_publish(_shaped(remaining), path, spark)
    mf.commit(
        path,
        mutate=lambda old: [f for f in old if f not in rewritten] + new,
        store=store,
    )


# --- vacuum ------------------------------------------------------------------
def vacuum_points(
    path: str,
    store=None,
    keep_versions: int = 2,
    min_age_seconds: int = 600,
    spark: SparkSession | None = None,
) -> list[str]:
    """Reclaim data files unreferenced by the retained manifest versions —
    the points-table twin of ``rollup_stream.vacuum_rollup``. Returns the
    removed relative paths.

    ``mf.prune_versions`` prunes old versions and returns the keep-set;
    nothing is reclaimed without one (``mf.reclaimable``: an emptied or
    unreadable version listing raises). The DATA pass is one walk over
    ``datafs`` — a local table through the stdlib, a URI location through
    the Hadoop FS API via ``spark`` — and removes unreferenced part files,
    partition dirs left holding only hidden files, and crashed
    ``.staging-*`` trees. Without a session a URI data pass is SKIPPED with
    a logged warning (``datafs.vacuum_fs``); the streaming sink's in-sink
    maintenance always passes its session. The age window guards both
    passes: versions, files and trees younger than ``min_age_seconds`` (a
    tree's newest mtime anywhere inside) are never touched — a time-travel
    reader or an appender that has staged but not committed survives a
    concurrent vacuum inside the window. Set ``min_age_seconds=0`` only in
    offline maintenance."""
    import time

    kept = mf.prune_versions(path, keep_versions, min_age_seconds, store=store)
    fs = datafs.vacuum_fs(path, spark, "vacuum_points")
    if fs is None:
        return []
    cutoff = time.time() - min_age_seconds
    removed = []
    for rel in data_files(path, spark):
        if rel in (kept or ()):
            continue  # live: skip the stat (None: reclaimable raises below)
        # a fresh stat, not the listing's: a file another vacuum deleted
        # since the listing stats as 'now' and is neither re-deleted nor
        # double-claimed
        if fs.newest_mtime(rel) > cutoff or not mf.reclaimable(kept, rel, path):
            continue
        fs.delete(rel)
        removed.append(rel)
    for part, is_dir, _ in fs.list(""):
        if not is_dir:
            continue
        if part.startswith(".staging-"):
            # crashed private append staging, judged by the NEWEST mtime
            # inside: a long Spark write advances only leaf mtimes
            if fs.newest_mtime(part) <= cutoff:
                fs.delete(part)
            continue
        if not part.startswith("hour_bucket="):
            continue
        # prune a partition dir holding nothing but leftover hidden files —
        # age-guarded (r13 review): an appender renames the hidden .crc
        # sibling BEFORE its parquet file, so a fresh dir can legitimately
        # hold only young hidden files; and rmdir, not a recursive delete,
        # so a file landing after the listing keeps the dir
        left = fs.list(part)
        if any(n[0] != "." for n, _, _ in left) or fs.newest_mtime(part) > cutoff:
            continue
        for n, _, _ in left:
            fs.delete(f"{part}/{n}")
        fs.rmdir(part)
    return sorted(removed)
