"""Maintenance-concurrency soak (round 14, r13 verdict item 3).

Round 13 made ``optimize_partitions`` / ``delete_where`` / the overwrite
flip commit-safe under concurrency, but only unit tests pinned it — every
other maintenance path has a sustained-run artifact. This script is that
artifact: TWO streaming apps append disjoint series slices into ONE
manifested table (gap-crash injection + in-sink vacuum live, as in
sink_soak) while a maintenance thread runs LIVE against the same table:

- ``optimize_partitions`` (small-file merges racing the appends),
- ``delete_where`` over ts windows already fully ingested by BOTH apps
  (the safe frontier comes from the apps' txn ledgers — chunks arrive in
  ts order, so ledger highwater N means every row below the chunk-N ts
  boundary is durable), with every deleted window recorded,
- ``snapshot`` of the live table (hardlink clone racing commits+vacuum),

and a READER thread loops ``read_points`` the whole time. Four verdicts:

1. **exact multiset modulo deletions**: final table == source multiset
   minus the recorded deletion windows — zero lost, duplicated, or
   double-counted groups despite every rewrite racing two appenders;
2. **reader never breaks**: no FileNotFound / empty-manifest crash in the
   reader loop (the age-window contract holds under live maintenance);
3. **no snapshot over-counts**: every live snapshot's per-group counts
   are <= the source's (a torn snapshot would double-count);
4. **restore flip round-trips**: after the streams drain, snapshot the
   final state, mangle the live table with a big delete, restore — the
   table equals the pre-mangle state exactly AND the replay-guard ledger
   rewound with it (manifest-flip restore, VERDICT r13 item 2).

Usage: python scripts/maint_soak.py [--sf-dir _scratch/sf10] [--chunks 150]
    [--crashes 4] [--apps 2] [--maint-sleep 3] [--seed 11]
Prints ONE JSON line (recorded as SOAK_maint_*.json).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from sydradb_spark import manifest as mf  # noqa: E402
from sydradb_spark import storage  # noqa: E402
from sydradb_spark.ingest import stream_points_sink  # noqa: E402
from sydradb_spark.session import get_spark  # noqa: E402
from sydradb_spark.tables import events_points  # noqa: E402

from scripts.sink_soak import prepare_chunks  # noqa: E402
from scripts.soak_common import AppIds  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="_scratch/sf10")
    ap.add_argument("--work", default="_scratch/maint_soak")
    ap.add_argument("--chunks", type=int, default=150)
    ap.add_argument("--crashes", type=int, default=4)
    ap.add_argument("--apps", type=int, default=2)
    ap.add_argument("--maint-sleep", type=float, default=3.0)
    # ts-ordered chunks leave only ~2 files per hour partition per app, so
    # the default engine threshold (4) never fires under this arrival
    # shape — 1 makes every ≥2-file partition a target, so the optimize
    # race is actually exercised (r14 self-review: the first sf10 run
    # reported optimize: 0, a vacuous race)
    ap.add_argument("--optimize-max-files", type=int, default=1)
    ap.add_argument("--keep-versions", type=int, default=8)
    ap.add_argument("--vacuum-min-age", type=int, default=5)
    ap.add_argument("--seed", type=int, default=11)
    args = ap.parse_args()
    if not os.path.isdir(args.sf_dir):
        sys.exit(f"{args.sf_dir} missing — python scripts/gen_sf.py first")

    spark = get_spark("maint-soak")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(args.work, ignore_errors=True)
    src_dir, table, ck = (
        f"{args.work}/src",
        f"{args.work}/tbl",
        f"{args.work}/ck",
    )

    t0 = time.perf_counter()
    totals = [
        prepare_chunks(
            spark, args.sf_dir, f"{src_dir}/app{k}", args.chunks, args.apps, k
        )
        for k in range(args.apps)
    ]
    total_rows = sum(totals)
    t_prep = round(time.perf_counter() - t0, 1)

    # the global ts span drives the per-chunk boundary math (chunks are
    # arrival/ts-ordered): chunk i holds ts in [lo + i*span, lo + (i+1)*span)
    twin = events_points(spark, args.sf_dir).select(
        F.col("series").alias("series"), "ts", "value"
    )
    lo, hi = twin.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo + 1) / args.chunks

    # an app's id is its checkpoint's own id, which exists only once its
    # stream has started: crash schedules key by app index
    cks = [f"{ck}_{k}" for k in range(args.apps)]
    app_ids = AppIds(spark, cks)
    rng = random.Random(args.seed)
    crash_at = {
        k: set(rng.sample(range(args.chunks), args.crashes)) for k in range(args.apps)
    }

    findings: list[str] = []
    deleted_windows: list[tuple[int, int]] = []  # [lo, hi) ts windows
    snapshots: list[str] = []
    stop = threading.Event()

    # --- streaming apps (gap crashes only: the mid-write replay re-appends
    # by design, which would resurrect rows a delete removed in between —
    # that interleaving is out of the twin's model; the crash-replay soak
    # covers mid-write crashes separately) --------------------------------
    def make_hook(k: int):
        def hook(batch_id: int) -> None:
            if batch_id in crash_at[k]:
                crash_at[k].discard(batch_id)
                raise RuntimeError(f"injected crash after batch {batch_id}")

        return hook

    def points_stream(k: int):
        from sydradb_spark.model import with_identity

        raw = (
            spark.readStream.schema("series string, ts long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src_dir}/app{k}")
        )
        return with_identity(
            raw.select(
                "series",
                F.create_map().cast("map<string,string>").alias("tags"),
                "ts",
                "value",
            )
        )

    def drive(k: int) -> int:
        restarts = 0
        hook = make_hook(k)
        while True:
            q = stream_points_sink(
                points_stream(k),
                table,
                cks[k],
                available_now=True,
                maintenance_every=20,
                maintenance_keep_versions=args.keep_versions,
                _after_write_hook=hook,
                _vacuum_min_age=args.vacuum_min_age,
            )
            try:
                q.awaitTermination()
                return restarts
            except Exception as e:
                if "injected" not in str(e):
                    raise
                restarts += 1
                if restarts > args.crashes + 5:
                    raise RuntimeError("more restarts than injected crashes")

    stream_results: dict = {}

    def run_stream(k: int) -> None:
        try:
            stream_results[k] = drive(k)
        except Exception as e:
            stream_results[k] = e

    # --- reader loop (table pre-created below so the first read is legal) ---
    reader_reads = {"n": 0}

    def reader() -> None:
        while not stop.is_set():
            try:
                storage.read_points(spark, table).count()
                reader_reads["n"] += 1
            except Exception as e:
                findings.append(f"reader broke: {type(e).__name__}: {e}")
                return
            time.sleep(0.2)

    from sydradb_spark.ingest import init_points_table

    init_points_table(spark, table)  # empty v1 — readers/maintenance legal
    # from the first instant, exactly as the sink itself would create it

    # --- live maintenance loop ----------------------------------------------
    maint_counts = {"optimize": 0, "delete": 0, "snapshot": 0}
    delete_cursor = {"ts": None}

    def safe_frontier() -> int | None:
        """Highest ts fully durable for EVERY app (ledger highwater N =>
        chunks 0..N committed => rows below lo + (N+1)*span durable)."""
        lows = []
        for k in range(args.apps):
            app = app_ids[k]
            n = None if app is None else mf.read_txn(table, app)
            if n is None:
                return None
            lows.append(n)
        return int(lo + (min(lows) + 1) * span)

    def maintenance() -> None:
        while not stop.is_set():
            time.sleep(args.maint_sleep)
            try:
                targets = storage.optimize_partitions(
                    spark, table, args.optimize_max_files
                )
                maint_counts["optimize"] += 1 if targets else 0
                frontier = safe_frontier()
                if frontier is not None:
                    a = delete_cursor["ts"] if delete_cursor["ts"] is not None else int(lo)
                    b = min(a + int(3 * span), frontier - int(span))
                    if b > a:
                        # hash over (series, ts): row-granular ~1/7 slice —
                        # hashing series alone is vacuous when the corpus
                        # has few distinct series (smoke finding)
                        pred = (
                            (F.col("ts") >= a)
                            & (F.col("ts") < b)
                            & (F.abs(F.xxhash64("series", "ts")) % 7 == 3)
                        )
                        storage.delete_where(
                            spark, table, pred, ts_min=a, ts_max=b - 1
                        )
                        deleted_windows.append((a, b))
                        delete_cursor["ts"] = b
                        maint_counts["delete"] += 1
                snap = f"{args.work}/snap_{len(snapshots)}"
                storage.snapshot(table, snap)
                snapshots.append(snap)
                maint_counts["snapshot"] += 1
            except Exception as e:
                findings.append(f"maintenance broke: {type(e).__name__}: {e}")
                return

    t0 = time.perf_counter()
    threads = [
        threading.Thread(target=run_stream, args=(k,)) for k in range(args.apps)
    ]
    rd = threading.Thread(target=reader)
    mt = threading.Thread(target=maintenance)
    for t in threads:
        t.start()
    rd.start()
    mt.start()
    for t in threads:
        t.join()
    stop.set()
    rd.join()
    mt.join()
    t_stream = round(time.perf_counter() - t0, 1)
    for k, r in stream_results.items():
        if isinstance(r, Exception):
            raise r

    # final maintenance pass quiesced, then the verdicts
    storage.optimize_partitions(spark, table, args.optimize_max_files)
    storage.vacuum_points(table, keep_versions=2, min_age_seconds=0)

    # --- verdict 1: multiset equality modulo the recorded deletions ---------
    del_pred = F.lit(False)
    for a, b in deleted_windows:
        del_pred = del_pred | (
            (F.col("ts") >= a)
            & (F.col("ts") < b)
            & (F.abs(F.xxhash64("series", "ts")) % 7 == 3)
        )
    expected = twin.where(~del_pred)
    exp_groups = expected.groupBy("series", "ts", "value").count()
    got_groups = (
        storage.read_points(spark, table).groupBy("series", "ts", "value").count()
    )
    n_diff = (
        exp_groups.withColumnRenamed("count", "want")
        .join(
            got_groups.withColumnRenamed("count", "got"),
            ["series", "ts", "value"],
            "full_outer",
        )
        .where(
            F.coalesce(F.col("want"), F.lit(-1))
            != F.coalesce(F.col("got"), F.lit(-2))
        )
        .count()
    )
    expected_rows = expected.count()
    got_rows = storage.read_points(spark, table).count()

    # --- verdict 3: no snapshot over-counts ----------------------------------
    twin_groups = twin.groupBy("series", "ts", "value").count()
    snap_overcounts = 0
    for snap in snapshots:
        sg = (
            storage.read_points(spark, snap)
            .groupBy("series", "ts", "value")
            .count()
            .withColumnRenamed("count", "got")
        )
        over = (
            sg.join(
                twin_groups.withColumnRenamed("count", "want"),
                ["series", "ts", "value"],
                "left_outer",
            )
            .where(F.col("got") > F.coalesce(F.col("want"), F.lit(0)))
            .count()
        )
        snap_overcounts += over

    # --- verdict 4: restore flip round-trips ----------------------------------
    final_snap = f"{args.work}/snap_final"
    storage.snapshot(table, final_snap)
    ids = [app_ids[k] for k in range(args.apps)]
    pre_ledger = {app: mf.read_txn(table, app) for app in ids}
    storage.delete_where(
        spark, table, F.abs(F.xxhash64("series")) % 2 == 0,
        ts_min=int(lo), ts_max=int(hi),
    )
    mangled_rows = storage.read_points(spark, table).count()
    storage.restore(final_snap, table)
    restored_rows = storage.read_points(spark, table).count()
    post_ledger = {app: mf.read_txn(table, app) for app in ids}
    restore_ok = restored_rows == got_rows and post_ledger == pre_ledger

    # file counts per partition after the final optimize (small-file bound)
    per_part: dict[str, int] = {}
    for f in mf.read_files(table):
        part = f.split("/", 1)[0]
        per_part[part] = per_part.get(part, 0) + 1
    max_files = max(per_part.values()) if per_part else 0

    result = {
        "sf_dir": args.sf_dir,
        "apps": args.apps,
        "rows_source": total_rows,
        "rows_expected_after_deletes": expected_rows,
        "rows_at_latest": got_rows,
        "chunks": args.chunks,
        "crashes_injected_per_app": args.crashes,
        "restarts_per_app": [stream_results[k] for k in range(args.apps)],
        "maintenance_ops": maint_counts,
        "deleted_windows": len(deleted_windows),
        "reader_reads": reader_reads["n"],
        "exact_multiset_modulo_deletes": n_diff == 0 and got_rows == expected_rows,
        "multiset_diff_groups": n_diff,
        "reader_and_maintenance_clean": not findings,
        "findings": findings[:5],
        "snapshots_taken": len(snapshots),
        "snapshot_overcount_groups": snap_overcounts,
        "restore_roundtrip_ok": restore_ok,
        "restore_mangled_rows": mangled_rows,
        "restore_restored_rows": restored_rows,
        "max_files_per_partition_after_optimize": max_files,
        "prep_s": t_prep,
        "stream_s": t_stream,
    }
    # non-vacuous gates: the soak must have actually raced something
    result["non_vacuous"] = (
        reader_reads["n"] > 0
        and expected_rows < total_rows  # deletes removed real rows
        and maint_counts["delete"] > 0
        and maint_counts["snapshot"] > 0
        and maint_counts["optimize"] > 0  # the optimize race actually ran
    )
    print(json.dumps(result))
    if not (
        result["exact_multiset_modulo_deletes"]
        and result["reader_and_maintenance_clean"]
        and snap_overcounts == 0
        and restore_ok
        and result["non_vacuous"]
    ):
        sys.exit(1)


if __name__ == "__main__":
    main()
