"""Streaming-rollup soak: crash replays + LIVE compaction and vacuum + two
apps + a concurrent reader, all serialized only by the rollup manifest.

The rollup sink's exactly-once story (batch-deterministic overwrite targets
keyed by (app_id, batch_id), each batch a txn-ledgered manifest commit) and
the lock-free fold (a CAS'd manifest swap) are pinned by unit tests; this
script is the scale evidence, mirroring `sink_soak.py`:

- replay an events twin through `stream_rollup` in many micro-batches
  (maxFilesPerTrigger=1) with seeded crash injection in the
  write→checkpoint-commit gap — each crashed batch is redelivered under the
  same batch_id and its manifest commit must be a txn no-op, not a
  double count;
- run `compact_rollup` CONCURRENTLY from a maintenance thread while the
  stream is live, with a periodic `vacuum_rollup` — a batch committed
  mid-fold must land in the next version, not vanish with the fold;
- feed the same rollup table from a SECOND stream (different checkpoint →
  different app id) over a disjoint series slice — partials must not
  clobber across apps;
- loop `read_rollup` from a READER thread the whole run while folds and
  vacuums fire (``--vacuum-min-age`` tuned DOWN so the vacuum actually
  reclaims folded entries mid-run). Each read must be a consistent
  committed state: no FileNotFound on a vacuumed entry, the total folded
  count NON-DECREASING read-over-read (a fold that lost a batch would dip,
  a double count would overshoot then dip), and never above the source
  total;
- assert the folded rollup equals the batch twin built directly from ALL
  input points: cnt/min/max/first/last exact, sums at 1e-9 relative;
- assert the reader converges: once both streams stop, one more
  `read_rollup` totals exactly the input rows of both apps
  (`reader_converged`);
- assert the table stays compacted: after a final compaction, batch dirs
  in the manifest ≤ one live tail per app, and a final vacuum leaves disk
  == manifest.

Usage: python scripts/rollup_soak.py [--sf-dir _scratch/sf10] [--chunks 120]
    [--crashes 8] [--compact-every-s 3.0] [--seed 11] [--backend local]
Prints ONE JSON line (recorded as SOAK_rollup_*.json); exits 1 on any
broken assertion.

``--backend`` selects where the manifest lives:

- ``local`` — in the rollup directory (``_manifest/``);
- ``store`` — in an object store (LocalFSObjectStore: a conditional-PUT
  commit point, no filesystem rename anywhere in the commit), i.e. the
  s3:// deployment shape.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import random
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from sydradb_spark.objectstore import LocalFSObjectStore  # noqa: E402
from sydradb_spark.rollup import build_rollup  # noqa: E402
from sydradb_spark.session import get_spark  # noqa: E402
from sydradb_spark.streaming.rollup_stream import (  # noqa: E402
    compact_rollup,
    read_rollup,
    stream_rollup,
    vacuum_rollup,
)
from sydradb_spark.tables import events_points  # noqa: E402

STEP_S = 3600


def prepare_ndjson_chunks(spark, sf_dir: str, src_dir: str, chunks: int, half: int):
    """Write the twin's events as NDJSON chunk files. half=0 → even
    series_id hash slice, half=1 → odd (the two streams' disjoint inputs).
    Returns the slice's points DataFrame (for the batch twin).

    One pass (round 13): repartition on the chunk id + partitionBy write
    emits every chunk file in a single job — the old per-chunk filtered
    rewrite scanned the slice `chunks` times, which priced the sf100 decade
    out of the soak budget. File mtimes still force arrival order for
    maxFilesPerTrigger batching."""
    pts = events_points(spark, sf_dir).where(
        (F.abs(F.xxhash64("series")) % 2) == half
    )
    lo, hi = pts.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo + 1) / chunks
    chunked = pts.withColumn(
        "chunk",
        F.least(
            F.floor((F.col("ts") - F.lit(lo)) / F.lit(span)).cast("int"),
            F.lit(chunks - 1),
        ),
    )
    os.makedirs(src_dir, exist_ok=True)
    tmp = f"{src_dir}__tmp"
    (
        chunked.select(
            "chunk", F.to_json(F.struct("series", "ts", "value", "tags")).alias("value")
        )
        .repartition("chunk")  # one partition per chunk → one part file each
        .write.mode("overwrite")
        .partitionBy("chunk")
        .text(tmp)
    )
    from scripts.soak_common import concat_files, finalize_chunk_files

    finalize_chunk_files(
        tmp,
        src_dir,
        chunks,
        "ndjson",
        write_empty=lambda dst: open(dst, "w").close(),
        merge_multi=concat_files,
    )
    return pts


def drive_stream(spark, src, roll, ck, crash_at: set, mft: int, store=None) -> int:
    """Run the stream to drain, restarting through injected crashes.
    Returns the number of restarts."""
    remaining = set(crash_at)

    def hook(batch_id: int) -> None:
        if batch_id in remaining:
            remaining.discard(batch_id)
            raise RuntimeError(f"injected crash after rollup batch {batch_id}")

    restarts = 0
    while True:
        q = stream_rollup(
            spark, src, roll, ck, step_s=STEP_S,
            available_now=True, max_files_per_trigger=mft,
            store=store,
            _after_write_hook=hook,
        )
        try:
            q.awaitTermination()
            return restarts
        except Exception as e:
            if "injected" not in str(e):
                raise
            restarts += 1
            if restarts > len(crash_at) + 3:
                raise RuntimeError("more restarts than injected crashes")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="_scratch/sf10")
    ap.add_argument("--work", default="_scratch/rollup_soak")
    ap.add_argument("--chunks", type=int, default=120)
    ap.add_argument("--crashes", type=int, default=8)
    ap.add_argument("--compact-every-s", type=float, default=3.0)
    ap.add_argument("--vacuum-min-age", type=int, default=600)
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--backend", choices=["local", "store"], default="local")
    args = ap.parse_args()
    if not os.path.isdir(args.sf_dir):
        sys.exit(f"{args.sf_dir} missing — scripts/gen_sf.py builds it")

    spark = get_spark("rollup-soak")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(args.work, ignore_errors=True)
    roll = f"{args.work}/roll"
    store = LocalFSObjectStore(f"{args.work}/store") if args.backend == "store" else None

    t0 = time.perf_counter()
    pts_a = prepare_ndjson_chunks(
        spark, args.sf_dir, f"{args.work}/src_a", args.chunks, half=0
    ).persist()
    pts_b = prepare_ndjson_chunks(
        spark, args.sf_dir, f"{args.work}/src_b", max(args.chunks // 4, 2), half=1
    ).persist()
    rows_a, rows_b = pts_a.count(), pts_b.count()
    t_prep = round(time.perf_counter() - t0, 1)

    rng = random.Random(args.seed)
    crash_at = set(rng.sample(range(args.chunks), args.crashes))

    # live-compaction thread: folds the table on a timer while stream A
    # runs, and vacuums live (age-windowed — a dir between its parquet
    # write and its manifest commit must survive)
    stop = threading.Event()
    compactions = {"n": 0, "vacuums": 0, "errors": []}

    def maintenance():
        while not stop.is_set():
            time.sleep(args.compact_every_s)
            try:
                compact_rollup(spark, roll, STEP_S, store)
                compactions["n"] += 1
                if compactions["n"] % 3 == 0:
                    vacuum_rollup(
                        roll,
                        store,
                        keep_versions=4,
                        min_age_seconds=args.vacuum_min_age,
                        spark=spark,
                    )
                    compactions["vacuums"] += 1
            except Exception as e:  # a failed fold is a finding, record it
                compactions["errors"].append(repr(e))

    # reader-race thread: every read during live folds + vacuums must be a
    # consistent committed state
    total_rows = rows_a + rows_b
    reader_stats = {"reads": 0, "last_total": -1, "violations": []}

    def reader():
        while not stop.is_set():
            try:
                row = read_rollup(spark, roll, STEP_S, store).agg(
                    F.sum("cnt").alias("c"), F.count("*").alias("w")
                ).first()
                total = int(row["c"] or 0)
            except Exception as e:
                reader_stats["violations"].append(
                    f"read broke: {type(e).__name__}: {str(e)[:200]}"
                )
                return
            if total < reader_stats["last_total"]:
                reader_stats["violations"].append(
                    f"non-monotone read: {reader_stats['last_total']} -> {total}"
                )
            if total > total_rows:
                reader_stats["violations"].append(
                    f"overcount read: {total} > {total_rows}"
                )
            reader_stats["last_total"] = total
            reader_stats["reads"] += 1

    t0 = time.perf_counter()
    thread = threading.Thread(target=maintenance, daemon=True)
    thread.start()
    reader_thread = threading.Thread(target=reader, daemon=True)
    reader_thread.start()
    restarts = drive_stream(
        spark, f"{args.work}/src_a", roll, f"{args.work}/ck_a", crash_at, 1,
        store,
    )
    # second app over its disjoint slice, coarser batches, no crashes
    drive_stream(
        spark, f"{args.work}/src_b", roll, f"{args.work}/ck_b", set(), 4,
        store,
    )
    stop.set()
    thread.join()
    reader_thread.join()
    t_stream = round(time.perf_counter() - t0, 1)

    # convergence: with both streams stopped, one more read must see every
    # input row — a reader stuck on an old manifest version would pass the
    # monotone/overcount checks above but fail here
    converged_total = int(
        read_rollup(spark, roll, STEP_S, store).agg(F.sum("cnt")).first()[0] or 0
    )

    # final offline compaction, then the batch-twin equality check
    compact_rollup(spark, roll, STEP_S, store)
    folded = {
        (r["series_id"], r["bucket"]): r
        for r in read_rollup(spark, roll, STEP_S, store).collect()
    }
    twin = {
        (r["series_id"], r["bucket"]): r
        for r in build_rollup(pts_a.unionByName(pts_b), step_s=STEP_S).collect()
    }
    mismatches = []
    for key, w in twin.items():
        g = folded.get(key)
        if g is None:
            mismatches.append({"key": list(key), "why": "missing"})
            continue
        ok = (
            g["cnt"] == w["cnt"]
            and g["min_v"] == w["min_v"]
            and g["max_v"] == w["max_v"]
            and g["first_v"] == w["first_v"]
            and g["last_v"] == w["last_v"]
            and math.isclose(g["sum_v"], w["sum_v"], rel_tol=1e-9, abs_tol=1e-9)
        )
        if not ok:
            mismatches.append(
                {"key": list(key), "got": (g["cnt"], g["sum_v"]), "want": (w["cnt"], w["sum_v"])}
            )
    extra = [list(k) for k in folded if k not in twin]

    from sydradb_spark import datafs
    from sydradb_spark import manifest as mf
    from sydradb_spark.streaming.rollup_stream import STORE_TABLE

    # bound check over the MANIFEST (what readers see), then a final
    # min_age=0 vacuum must leave disk == manifest (orphans reclaimed)
    live_dirs = sorted(
        n
        for n in mf.read_files(roll, store=store, key=STORE_TABLE)
        if n.startswith("b_")
    )
    vacuum_rollup(roll, store, keep_versions=1, min_age_seconds=0)
    on_disk = {
        name
        for name, is_dir, _ in datafs.open_fs(roll, spark).list("")
        if is_dir and name.startswith(("b_", "c_"))
    }
    manifest_now = set(mf.read_files(roll, store=store, key=STORE_TABLE))
    orphans_reclaimed = on_disk == manifest_now

    print(
        json.dumps(
            {
                "sf_dir": args.sf_dir,
                "backend": args.backend,
                "live_vacuums": compactions["vacuums"],
                "orphans_reclaimed_after_final_vacuum": orphans_reclaimed,
                "rows_app_a": rows_a,
                "rows_app_b": rows_b,
                "chunks_a": args.chunks,
                "crashes_injected": args.crashes,
                "restarts": restarts,
                "live_compactions": compactions["n"],
                "compaction_errors": compactions["errors"][:5],
                "windows": len(twin),
                "mismatched_windows": len(mismatches),
                "extra_windows": len(extra),
                "equals_batch_twin": not mismatches and not extra,
                "mismatch_examples": mismatches[:5],
                "batch_dirs_after_final_compaction": live_dirs,
                "dirs_bounded": len(live_dirs) <= 2,  # one live tail per app
                "vacuum_min_age": args.vacuum_min_age,
                "reader_reads": reader_stats["reads"],
                "reader_final_total": reader_stats["last_total"],
                "reader_violations": reader_stats["violations"][:5],
                "reader_clean": not reader_stats["violations"]
                and reader_stats["reads"] > 0,
                "reader_converged_total": converged_total,
                "reader_converged": converged_total == total_rows,
                "prep_s": t_prep,
                "stream_s": t_stream,
            }
        )
    )
    if (
        mismatches
        or extra
        or compactions["errors"]
        or not orphans_reclaimed
        or reader_stats["violations"]
        or reader_stats["reads"] == 0
        or converged_total != total_rows
    ):
        sys.exit(1)


if __name__ == "__main__":
    main()
