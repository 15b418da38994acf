"""Exactly-once points-sink soak (round 12, r11 verdict item 1).

The streaming points sink's replay guard — the manifest txn ledger keyed by
``(checkpoint app_id, batch_id)`` with CAS publish, the Spark-side twin of
the reference's WAL replay-above-highwater cutoff
(src/sydra/engine.zig:406-437) — was certified in round 11 by a 3-row unit
test and a pure-model property test. This script is the decade-scale
evidence: drive ``ingest.stream_points_sink`` through hundreds of real
micro-batches at a scale twin, inject crashes at seeded-random batch ids in
the write→checkpoint-commit gap (the ``_after_write_hook`` seam), restart
from the checkpoint each time, and run the maintenance vacuum aggressively
(``maintenance_every`` small, ``min_age=0``) while the stream lives. Four
assertions decide the verdict:

- **zero duplicates vs the batch twin**: the table at LATEST must equal the
  source multiset exactly — per-(series_id, ts, value) group counts match,
  despite every crashed batch being redelivered;
- **bounded manifests**: the version-file count never exceeds the vacuum
  window (+ the in-flight slack between vacuums) — a year-long stream
  can't accumulate one manifest per batch;
- **orphans reclaimed**: after a final vacuum, every data file on disk is
  referenced by a retained manifest version (crashed attempts' staged
  files do not leak);
- **ledger monotone**: the app's txn highwater observed after every batch
  never decreases and finishes at the last batch id.

Usage: python scripts/sink_soak.py [--sf-dir _scratch/sf10] [--chunks 300]
    [--crashes 12] [--maintenance-every 20] [--keep-versions 8] [--seed 7]
    [--apps 1]
Prints ONE JSON line (recorded as SOAK_sink_*.json). The same four
properties are pinned at pytest scale in tests/test_streaming.py.

``--backend store`` (round 14, r13 verdict item 1): the table's manifest —
init, every txn-ledgered batch commit, the maintenance vacuum, and every
observability read — lives in a separate store
(``objectstore.LocalFSObjectStore`` under ``points/_manifest/``) instead of
the table directory, the deployment shape of an object-store table (the r13
verdict found ``Path('s3a://…')`` committing the exactly-once ledger to a
relative local junk dir). Same crash schedules, same four assertions.

``--apps N`` (round 13, r12 verdict item 8): N streams with independent
checkpoints/app-ids ingest disjoint series slices into ONE table
CONCURRENTLY, each with its own seeded gap + mid-write crash schedule —
the soak twin of the r12 private-staging fix (storage.write_points), which
a two-thread race test pinned but no sustained run had exercised. Crashes
are per-app; the manifest-version bound widens to cover every app's
commits between vacuums; assertion 4 checks every app's ledger.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from sydradb_spark import manifest as mf  # noqa: E402
from sydradb_spark.ingest import stream_points_sink  # noqa: E402
from sydradb_spark.model import with_identity  # noqa: E402
from sydradb_spark.storage import read_points  # noqa: E402
from sydradb_spark.session import get_spark  # noqa: E402
from sydradb_spark.tables import events_points  # noqa: E402

from scripts.soak_common import AppIds  # noqa: E402


def prepare_chunks(
    spark, sf_dir: str, src_dir: str, chunks: int, apps: int = 1, slot: int = 0
) -> int:
    """The twin's events as `chunks` arrival-ordered parquet files (one
    micro-batch each via maxFilesPerTrigger=1). With ``apps > 1`` each
    ``slot`` takes a disjoint series-hash slice (the multi-writer soak's
    per-app inputs). Returns total rows."""
    pts = events_points(spark, sf_dir).select(
        F.col("series").alias("series"), "ts", "value"
    )
    if apps > 1:
        pts = pts.where((F.abs(F.xxhash64("series")) % apps) == slot)
    lo, hi = pts.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo + 1) / chunks
    chunked = pts.withColumn(
        "chunk",
        F.least(
            F.floor((F.col("ts") - F.lit(lo)) / F.lit(span)).cast("int"),
            F.lit(chunks - 1),
        ),
    ).persist()
    total = chunked.count()
    os.makedirs(src_dir, exist_ok=True)
    tmp = f"{src_dir}__tmp"
    # one pass (round 13): repartition on the chunk id + partitionBy write —
    # the old per-chunk filtered rewrite scanned the slice `chunks` times
    (
        chunked.select("chunk", "series", "ts", "value")
        .repartition("chunk")  # one partition per chunk → one part file each
        .write.mode("overwrite")
        .partitionBy("chunk")
        .parquet(tmp)
    )
    from scripts.soak_common import finalize_chunk_files

    def _spark_rewrite(df, dst: str) -> None:
        # parquet files can't be concatenated — re-write coalesced
        etmp = f"{src_dir}__one"
        df.coalesce(1).write.mode("overwrite").parquet(etmp)
        shutil.move(glob.glob(f"{etmp}/part-*.parquet")[0], dst)
        shutil.rmtree(etmp, ignore_errors=True)

    finalize_chunk_files(
        tmp,
        src_dir,
        chunks,
        "parquet",
        write_empty=lambda dst: _spark_rewrite(
            chunked.limit(0).select("series", "ts", "value"), dst
        ),
        merge_multi=lambda parts, dst: _spark_rewrite(
            spark.read.parquet(*parts), dst
        ),
    )
    chunked.unpersist()
    return total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="_scratch/sf10")
    ap.add_argument("--work", default="_scratch/sink_soak")
    ap.add_argument("--chunks", type=int, default=300)
    ap.add_argument("--crashes", type=int, default=12)
    ap.add_argument("--maintenance-every", type=int, default=20)
    ap.add_argument("--keep-versions", type=int, default=8)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--apps", type=int, default=1)
    ap.add_argument("--backend", choices=["local", "store"], default="local")
    args = ap.parse_args()
    if not os.path.isdir(args.sf_dir):
        sys.exit(
            f"{args.sf_dir} missing — build it first: python scripts/gen_sf.py "
            f"--factor 100 --out {args.sf_dir} --tables events"
        )

    spark = get_spark("sink-soak")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(args.work, ignore_errors=True)
    src_dir = f"{args.work}/src"
    table = f"{args.work}/tbl"
    ck = f"{args.work}/ck"

    # backend seam (r14): store=None → the manifest in the table directory;
    # else a separate LocalFSObjectStore keeps it under points/_manifest/
    store = None
    if args.backend == "store":
        from sydradb_spark import objectstore as obs

        store = obs.LocalFSObjectStore(f"{args.work}/store")

    def be_read_txn(app: str):
        return mf.read_txn(table, app, store=store)

    def be_version_count() -> int:
        if store is None:
            return len(glob.glob(f"{table}/_manifest/v*.json"))
        from sydradb_spark.storage import POINTS_STORE_TABLE

        return len(store.list(f"{POINTS_STORE_TABLE}/_manifest/v"))

    def be_final_vacuum() -> None:
        from sydradb_spark.storage import vacuum_points

        vacuum_points(
            table, store, keep_versions=args.keep_versions, min_age_seconds=0
        )

    def be_referenced() -> set:
        referenced: set = set()
        if store is None:
            for vf in glob.glob(f"{table}/_manifest/v*.json"):
                referenced.update(json.load(open(vf))["files"])
            return referenced
        from sydradb_spark.storage import POINTS_STORE_TABLE

        pre = f"{POINTS_STORE_TABLE}/_manifest/"
        for key in store.list(pre + "v"):
            referenced.update(json.loads(store.get(key))["files"])
        return referenced

    t0 = time.perf_counter()
    totals = [
        prepare_chunks(
            spark, args.sf_dir, f"{src_dir}/app{k}", args.chunks, args.apps, k
        )
        for k in range(args.apps)
    ]
    total_rows = sum(totals)
    t_prep = round(time.perf_counter() - t0, 1)

    # an app's id is its checkpoint's own id, which exists only once its
    # stream has started: crash schedules and ledger traces key by app index
    cks = [f"{ck}_{k}" for k in range(args.apps)]
    app_ids = AppIds(spark, cks)

    # two seeded crash sets PER APP, both redelivered under the SAME
    # batch_id:
    # - gap crashes: AFTER write_points (write + ledger commit durable) but
    #   before Spark's checkpoint commit — the replay must NO-OP;
    # - mid-write crashes: AFTER the parquet append but BEFORE the manifest
    #   commit — the replay must re-append (ledger never saw the batch) and
    #   the first attempt's staged files become vacuum-reclaimable orphans.
    rng = random.Random(args.seed)
    gap_n = args.crashes - args.crashes // 3
    crash_at: dict = {}
    midwrite_at: dict = {}
    remaining: dict = {}
    mid_remaining: dict = {}
    for k in range(args.apps):
        sampled = rng.sample(range(args.chunks), args.crashes)
        crash_at[k] = sorted(sampled[:gap_n])
        midwrite_at[k] = sorted(sampled[gap_n:])
        remaining[k] = set(crash_at[k])
        mid_remaining[k] = set(midwrite_at[k])

    def _mid_crash(txn) -> None:
        if txn is None:
            return
        k = app_ids.index(txn[0])
        if k is not None and txn[1] in mid_remaining[k]:
            mid_remaining[k].discard(txn[1])
            raise RuntimeError(
                f"injected mid-write crash at batch {txn[1]} of app {k}"
            )

    real_commit = mf.commit

    def crashing_commit(path, files=None, **kw):
        if path == table:
            _mid_crash(kw.get("txn"))
        return real_commit(path, files, **kw)

    mf.commit = crashing_commit  # storage calls mf.commit as a module attribute

    ledger_trace: dict = {k: [] for k in range(args.apps)}
    version_counts: list[int] = []
    violations: list[str] = []

    def read_txn_retry(app: str):
        # observability read racing a concurrent app's vacuum(min_age=0):
        # a pruned version between the listing and the doc read is the
        # commit path's own absorbed race — retry, don't record a finding
        for _ in range(5):
            try:
                return be_read_txn(app)
            except FileNotFoundError:
                time.sleep(0.01)
        return be_read_txn(app)

    def make_hook(k: int):
        def hook(batch_id: int) -> None:
            # observe AFTER the durable write: ledger holds batch_id already
            seen = read_txn_retry(app_ids[k])
            if seen != batch_id:
                violations.append(
                    f"app {k}: ledger {seen} != just-written batch {batch_id}"
                )
            if ledger_trace[k] and seen < ledger_trace[k][-1]:
                violations.append(
                    f"app {k}: ledger regressed {ledger_trace[k][-1]} -> {seen}"
                )
            ledger_trace[k].append(seen)
            version_counts.append(be_version_count())
            if batch_id in remaining[k]:
                remaining[k].discard(batch_id)
                raise RuntimeError(f"injected crash after batch {batch_id}")

        return hook

    def points_stream(k: int):
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
                maintenance_every=args.maintenance_every,
                maintenance_keep_versions=args.keep_versions,
                store=store,
                _after_write_hook=hook,
                _vacuum_min_age=0,
            )
            try:
                q.awaitTermination()
                return restarts  # drained clean — no crash fired this run
            except Exception as e:
                if "injected" not in str(e):
                    raise
                restarts += 1
                if restarts > args.crashes + 5:
                    raise RuntimeError("more restarts than injected crashes")

    t0 = time.perf_counter()
    if args.apps == 1:
        restarts_per_app = [drive(0)]
    else:
        # CONCURRENT apps: every stream ingests into the SAME table while
        # crashing/restarting on its own schedule — the sustained twin of
        # the r12 private-staging append race test
        import threading

        results: dict = {}

        def run(k: int) -> None:
            try:
                results[k] = drive(k)
            except Exception as e:  # surface thread failures as findings
                results[k] = e

        threads = [
            threading.Thread(target=run, args=(k,)) for k in range(args.apps)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        for k, r in results.items():
            if isinstance(r, Exception):
                raise r
        restarts_per_app = [results[k] for k in range(args.apps)]
    restarts = sum(restarts_per_app)
    t_stream = round(time.perf_counter() - t0, 1)
    mf.commit = real_commit

    # --- assertion 1: exact multiset equality vs the batch twin -----------
    twin = (
        events_points(spark, args.sf_dir)
        .select(F.col("series").alias("series"), "ts", "value")
    )
    twin_groups = twin.groupBy("series", "ts", "value").count()
    got_groups = (
        read_points(spark, table, store=store)
        .groupBy("series", "ts", "value")
        .count()
    )
    diff = (
        twin_groups.withColumnRenamed("count", "want")
        .join(
            got_groups.withColumnRenamed("count", "got"),
            ["series", "ts", "value"],
            "full_outer",
        )
        .where(
            F.coalesce(F.col("want"), F.lit(-1))
            != F.coalesce(F.col("got"), F.lit(-2))
        )
    )
    n_diff = diff.count()
    got_rows = read_points(spark, table, store=store).count()

    # --- assertion 2: bounded manifest versions ---------------------------
    # steady-state bound: the kept window + at most maintenance_every
    # commits PER APP since the last vacuum (+1 init commit slack per app —
    # concurrent apps interleave their commits between one app's vacuums)
    bound = args.keep_versions + args.apps * (args.maintenance_every + 1)
    max_versions = max(version_counts) if version_counts else 0

    # --- assertion 3: orphans reclaimed after a final vacuum --------------
    be_final_vacuum()
    on_disk = {
        os.path.relpath(f, table)
        for f in glob.glob(f"{table}/hour_bucket=*/*.parquet")
    }
    referenced = be_referenced()
    orphans = sorted(on_disk - referenced)

    # --- assertion 4: every app's ledger monotone, finished at the last
    # batch ------------------------------------------------------------------
    final_txns = {app_ids[k]: be_read_txn(app_ids[k]) for k in range(args.apps)}
    ledgers_ok = not violations and all(
        v == args.chunks - 1 for v in final_txns.values()
    )

    result = {
        "sf_dir": args.sf_dir,
        "backend": args.backend,
        "apps": args.apps,
        "rows": total_rows,
        "rows_per_app": totals,
        "rows_at_latest": got_rows,
        "chunks": args.chunks,
        "crashes_injected_per_app": args.crashes,
        "gap_crash_batch_ids": crash_at,
        "midwrite_crash_batch_ids": midwrite_at,
        "restarts": restarts,
        "restarts_per_app": restarts_per_app,
        "zero_duplicates_vs_batch_twin": n_diff == 0 and got_rows == total_rows,
        "multiset_diff_groups": n_diff,
        "max_manifest_versions": max_versions,
        "manifest_version_bound": bound,
        "manifest_versions_bounded": max_versions <= bound,
        "orphan_files_after_vacuum": len(orphans),
        "orphans_reclaimed": len(orphans) == 0,
        "ledger_final_txns": final_txns,
        "ledger_monotone": ledgers_ok,
        "ledger_violations": violations[:5],
        "maintenance_every": args.maintenance_every,
        "keep_versions": args.keep_versions,
        "prep_s": t_prep,
        "stream_s": t_stream,
        "rows_per_s": round(total_rows / t_stream, 1) if t_stream else None,
    }
    print(json.dumps(result))
    if not (
        result["zero_duplicates_vs_batch_twin"]
        and result["manifest_versions_bounded"]
        and result["orphans_reclaimed"]
        and result["ledger_monotone"]
    ):
        sys.exit(1)


if __name__ == "__main__":
    main()
