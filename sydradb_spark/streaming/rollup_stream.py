"""Streaming rollup maintenance.

Pattern: NDJSON stream → watermark on event time → per-micro-batch partial
rollups written to a BATCH-DETERMINISTIC subdirectory of the rollup table
(``b_<app_id>_<batch_id>/``, mode=overwrite) and committed to the table's
manifest. Readers and compaction fold the partials with
``rollup.combine_rollup`` — every rollup statistic is associative, so
write-then-fold needs no read-modify-write races.

One commit protocol: the table's live entry list is a versioned manifest
(the points table's ``manifest.commit`` — in the table directory, or under
the ``rollup`` key of a caller-supplied object store), and nothing else
serializes writers, on one host or across hosts. A fold is a CAS'd version
swap whose ``mutate`` removes exactly the entries it folded, so a batch
committed mid-fold lands in the next version — never lost, never
double-counted — and of two concurrent folds the second finds its sources
gone and aborts. Folded entries stay on disk until ``vacuum_rollup``
reclaims them past an age window, so a reader holding the previous version
never loses a file mid-scan.

Exactly-once: the write target is a pure function of ``(app_id,
batch_id)`` and every batch commit is txn-ledgered by that pair, so a
foreachBatch replay after a crash in the write→checkpoint-commit gap finds
its batch in the ledger and touches nothing — the fold counts each batch
exactly once, and a batch dir recreated after a fold never re-enters the
manifest. The app id (the checkpoint's own id,
``ingest.checkpoint_app_id``) is part of the target because batch ids
restart at 0 after a checkpoint reset: keyed by batch id alone, the reset
stream's b_0 would overwrite another incarnation's (or a second stream's)
unfolded b_0. Compaction never folds the newest batch directory of EACH
app, the only batch that app's restarted stream can still replay.

A directory written without a manifest (an earlier release's
lock-serialized sink: ``b_*`` batch dirs plus top-level compacted
``*.parquet`` files) is adopted by ``init_rollup_manifest``, which
``stream_rollup`` runs before its first batch; ``read_rollup`` refuses such
a directory instead of answering empty.

The watermark bounds state for Spark's own windowed mode; here aggregation
happens inside foreachBatch (per-batch partials), so the watermark's role is
to document/enforce the allowed lateness contract on the stream — late rows
beyond it still land (reference semantics: late points are simply accepted,
engine.zig:327-331) but monitoring can alert on them.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from sydradb_spark import datafs
from sydradb_spark import manifest as mf
from sydradb_spark.ingest import NDJSON_SCHEMA, _ledgered_stream, parse_ndjson
from sydradb_spark.rollup import (
    ROLLUP_COLS,
    build_rollup,
    combine_rollup,
    ensure_rollup_compat,
)

DEFAULT_APP = "default"


def _batch_dir(rollup_path: str, batch_id: int, app_id: str = DEFAULT_APP) -> str:
    # app id first, batch id last: compact_rollup groups live tails per app
    # by rsplit on the final underscore (app ids are `stream-<hex>`, no '_')
    return f"{rollup_path.rstrip('/')}/b_{app_id}_{batch_id:012d}"


# the store key a caller-supplied ObjectStore keeps the rollup manifest
# under; scope the store to ONE rollup table
STORE_TABLE = "rollup"


def _entries(listing) -> list[str]:
    """The rollup table entries in ``listing`` (``datafs`` ``list`` of the
    table root): ``b_*`` batch and ``c_*`` compacted dirs, and an adopted
    earlier-release table's top-level compacted ``*.parquet`` files."""
    return [
        name
        for name, is_dir, _ in listing
        if (name.startswith(("b_", "c_")) if is_dir else name.endswith(".parquet"))
        and name[0] != "."
    ]


def init_rollup_manifest(
    rollup_path: str, store=None, spark: SparkSession | None = None
) -> int:
    """Ensure the rollup table has a manifest before anything mutates it —
    the rollup twin of ``ingest.init_points_table``. A fresh or empty path
    gets an empty v1; a directory written without a manifest (an earlier
    release's lock-serialized table: ``b_*`` batch dirs plus top-level
    compacted ``*.parquet`` files) is adopted by committing its entries. A
    table that already has a manifest is left as it is: its folded dirs
    stay on disk until vacuum, and listing them again would count them
    twice. A URI location needs ``spark`` to list it. Returns the table's
    latest version."""
    entries = sorted(_entries(datafs.open_fs(rollup_path, spark).list("")))
    cur = mf.latest_version(rollup_path, store=store, key=STORE_TABLE)
    if cur is not None:
        return cur
    return mf.commit(
        rollup_path,
        mutate=lambda old: sorted(set(old) | set(entries)),
        store=store,
        key=STORE_TABLE,
    )


def write_rollup_batch(
    partial: DataFrame,
    rollup_path: str,
    batch_id: int,
    app_id: str = DEFAULT_APP,
    store=None,
) -> int | None:
    """Idempotent batch write: a deterministic ``(app_id, batch_id)``
    overwrite target plus a txn-ledgered manifest commit adding the batch
    dir to the table's live entry list. Returns the committed manifest
    version (None on a replayed txn).

    A batch already in the txn ledger skips the parquet write entirely: a
    replayed overwrite would delete-then-rewrite a dir the manifest still
    references, and a concurrent reader scanning it mid-overwrite tears
    (FileNotFound / partial read). So a gap-crash replay touches nothing
    readers can see; a crash BETWEEN write and commit still re-writes, but
    that dir was never manifest-referenced. Same pattern as
    ``storage.write_points``' replay pre-check."""
    last = mf.read_txn(rollup_path, app_id, store=store, key=STORE_TABLE)
    if last is not None and last >= batch_id:
        return None  # replayed batch — already durable and folded-safe
    target = _batch_dir(rollup_path, batch_id, app_id)
    partial.write.mode("overwrite").parquet(target)
    name = target.rsplit("/", 1)[1]
    return mf.commit(
        rollup_path,
        mutate=lambda cur: sorted(set(cur) | {name}),
        txn=(app_id, batch_id),
        store=store,
        key=STORE_TABLE,
    )


def stream_rollup(
    spark: SparkSession,
    source_dir: str,
    rollup_path: str,
    checkpoint_dir: str,
    step_s: int = 3600,
    watermark: str = "1 hour",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    store=None,
    maintenance_every: int | None = 256,
    maintenance_keep_versions: int = 8,
    _after_write_hook=None,
    _vacuum_min_age: int = 600,
) -> StreamingQuery:
    """Maintain an hourly rollup from an NDJSON point stream, through the
    points sink's exactly-once driver (``ingest._ledgered_stream``). The
    stream's identity (``ingest.checkpoint_app_id``) keys its batch
    subdirectories, so a checkpoint reset or a second stream feeding the
    same rollup table gets fresh targets instead of clobbering b_0/b_1/...
    partials.

    ``init_rollup_manifest`` runs before the first batch, so every batch is
    a txn-ledgered manifest commit (``write_rollup_batch``); read the table
    with ``read_rollup`` and fold it with ``compact_rollup``. ``store`` (an
    ``objectstore.ObjectStore`` scoped to this table) keeps the manifest in
    an object store, which a URI rollup location requires; without it the
    manifest lives in the table directory.

    ``maintenance_every=k`` runs ``vacuum_rollup`` every k batches; it also
    reclaims folded and orphaned batch/compacted dirs outside the
    ``_vacuum_min_age`` window (test seam)."""
    init_rollup_manifest(rollup_path, store, spark)
    reader = spark.readStream.schema(NDJSON_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(source_dir)
    # named observation: malformed-drop counts per progress (ADVICE r13)
    pts = parse_ndjson(raw, observe_drops="sydra_ingest").withColumn(
        "__event_time", F.timestamp_seconds(F.col("ts"))
    ).withWatermark("__event_time", watermark)

    def write(batch: DataFrame, app_id: str, batch_id: int) -> None:
        partial_rollup = build_rollup(batch.drop("__event_time"), step_s=step_s)
        write_rollup_batch(partial_rollup, rollup_path, batch_id, app_id, store=store)

    return _ledgered_stream(
        pts,
        checkpoint_dir,
        write,
        partial(
            vacuum_rollup,
            rollup_path,
            store,
            keep_versions=maintenance_keep_versions,
            min_age_seconds=_vacuum_min_age,
        ),
        available_now,
        maintenance_every,
        _after_write_hook,
    )


def _fold(spark: SparkSession, srcs: list[str], step_s: int) -> DataFrame:
    # recursiveFileLookup: an entry is a batch/compacted dir or a top-level
    # compacted file. mergeSchema + ensure_rollup_compat: a table upgraded
    # mid-life mixes pre-cnt_v and post-cnt_v files — without the merge
    # Spark takes ONE file's footer as the schema, silently dropping cnt_v
    # (or nulling it on legacy rows, undercounting the avg divisor); rollup
    # entries are ~3600x smaller than raw points, so the footer merge is
    # cheap
    return combine_rollup(
        ensure_rollup_compat(
            spark.read.option("recursiveFileLookup", "true")
            .option("mergeSchema", "true")
            .parquet(*srcs)
        ).select(*ROLLUP_COLS),
        step_s,
    )


def read_rollup(
    spark: SparkSession, rollup_path: str, step_s: int, store=None
) -> DataFrame:
    """Fold the manifest's entries (batch partials + compacted sets) into
    the canonical one-row-per-bucket rollup. Reads only what the manifest
    lists — orphaned and folded dirs awaiting ``vacuum_rollup`` are
    invisible. A directory holding rollup entries but no manifest raises
    (``init_rollup_manifest`` adopts it) instead of answering empty."""
    if mf.has_manifest(rollup_path, store=store, key=STORE_TABLE):
        names = mf.read_files(rollup_path, store=store, key=STORE_TABLE)
    elif _entries(datafs.open_fs(rollup_path, spark).list("")):
        raise ValueError(
            f"rollup table {rollup_path!r} has entries but no manifest (written "
            "by an earlier release); adopt it with init_rollup_manifest first"
        )
    else:
        names = []
    if not names:
        # empty table: an empty rollup frame with the canonical schema
        empty = spark.createDataFrame(
            [],
            "series_id long, series string, bucket long, cnt long, "
            "cnt_v long, sum_v double, min_v double, max_v double, "
            "first_ts long, first_v double, last_ts long, last_v double",
        )
        return combine_rollup(empty.select(*ROLLUP_COLS), step_s)
    return _fold(spark, [f"{rollup_path.rstrip('/')}/{n}" for n in names], step_s)


def _live_tail_names(batch_names: list[str]) -> set[str]:
    """The newest batch directory name of EACH app — the only batch that
    app's restarted stream can still replay (older batches' commits are
    already in its checkpoint). These are carried through compaction
    unfolded. Zero-padded batch ids make the string sort the numeric one."""
    newest: dict[str, str] = {}
    for name in sorted(batch_names):
        app_key = name.rsplit("_", 1)[0]
        newest[app_key] = name  # sorted ascending — last one wins
    return set(newest.values())


class _ConcurrentFold(Exception):
    """A competing compaction removed our fold sources between our manifest
    read and our commit — committing would double-count the folded rows."""


def compact_rollup(
    spark: SparkSession,
    rollup_path: str,
    step_s: int,
    store=None,
    _pre_commit_hook=None,
) -> int | None:
    """Lock-free fold: read the manifest's entry list, fold everything
    except each app's live tail into ONE compacted entry, CAS-commit
    ``(old − folded) ∪ {compacted}``.

    Safety without any lock:

    - a batch committed mid-fold survives — the commit's ``mutate`` runs
      against the list as of commit time and removes ONLY the exact entries
      this fold read, so entries added meanwhile ride through to the new
      version (pinned by test_manifested_batch_mid_fold_not_lost);
    - two concurrent folds can't double-count — the loser's mutate finds
      its sources already removed and raises, the fold aborts and removes
      its own orphaned output (test_manifested_concurrent_fold_aborts);
    - replays stay convergent — each app's newest batch is carried
      unfolded (``_live_tail_names``), and a replayed batch's commit is a
      txn no-op.

    Folded source dirs are NOT deleted here (a reader holding the previous
    version may still be scanning them) — ``vacuum_rollup`` reclaims them
    after an age window. ``_pre_commit_hook()`` is a test seam between the
    fold write and the manifest commit. Returns the committed version, or
    None when there was nothing to fold or a concurrent fold won."""
    import uuid

    if not mf.has_manifest(rollup_path, store=store, key=STORE_TABLE):
        return None
    names = mf.read_files(rollup_path, store=store, key=STORE_TABLE)
    live = _live_tail_names([n for n in names if n.startswith("b_")])
    folded_srcs = sorted(n for n in names if n not in live)
    if len(folded_srcs) < 2 and not any(n.startswith("b_") for n in folded_srcs):
        return None  # just one compacted entry (or nothing) — no work
    root = rollup_path.rstrip("/")
    out = f"c_{uuid.uuid4().hex}"
    _fold(spark, [f"{root}/{n}" for n in folded_srcs], step_s).write.mode(
        "overwrite"
    ).parquet(f"{root}/{out}")
    if _pre_commit_hook is not None:
        _pre_commit_hook()

    folded_set = set(folded_srcs)

    def mutate(cur: list[str]) -> list[str]:
        cur_set = set(cur)
        if not folded_set <= cur_set:
            raise _ConcurrentFold(sorted(folded_set - cur_set))
        return sorted((cur_set - folded_set) | {out})

    try:
        return mf.commit(rollup_path, mutate=mutate, store=store, key=STORE_TABLE)
    except _ConcurrentFold:
        datafs.open_fs(rollup_path, spark).delete(out)  # the aborted fold's output
        return None


def vacuum_rollup(
    rollup_path: str,
    store=None,
    keep_versions: int = 2,
    min_age_seconds: int = 600,
    spark: SparkSession | None = None,
) -> list[str]:
    """Reclaim rollup entries (``b_*``/``c_*`` dirs and adopted top-level
    ``*.parquet`` files) unreferenced by the retained manifest versions —
    the folded sources ``compact_rollup`` leaves behind, and orphans of
    crashed writes — and prune old version files. Once no kept version
    lists a top-level file, an adopted table's top-level ``_SUCCESS``
    marker goes too. The age window is the reader/replayer guard: an entry
    whose tree was touched within it (newest mtime anywhere inside — a fold
    or batch write advances leaf mtimes, not necessarily the dir's own) is
    never deleted. Returns the removed entry names.

    ``mf.prune_versions`` builds the keep-set — with every guard of the
    points vacuum: young versions kept, pruned holes skipped, and nothing
    reclaimed without a keep-set (``mf.reclaimable``) — so a store-backed
    and a local rollup vacuum alike refuse to reclaim committed entries on
    an emptied listing or manifest directory. The MANIFEST side needs
    ``store`` for an object-store rollup location. The DATA side is one
    pass over ``datafs``: a URI location needs ``spark``, and without one
    the data pass is SKIPPED with a logged warning (version pruning still
    runs; entries wait for a vacuum that has one). The streaming sink's
    in-sink maintenance always passes its session."""
    import time

    kept = mf.prune_versions(
        rollup_path, keep_versions, min_age_seconds, store=store, key=STORE_TABLE
    )
    fs = datafs.vacuum_fs(rollup_path, spark, "vacuum_rollup")
    if fs is None:
        return []
    listing = fs.list("")
    names = _entries(listing)
    if kept is not None and not any(n.endswith(".parquet") for n in kept):
        names += [n for n, is_dir, _ in listing if n == "_SUCCESS" and not is_dir]
    now = time.time()
    removed = []
    for name in names:
        if now - fs.newest_mtime(name) < min_age_seconds:
            continue  # possibly a live writer's target or a fresh fold
        if not mf.reclaimable(kept, name, rollup_path):
            continue
        fs.delete(name)
        removed.append(name)
    return sorted(removed)
