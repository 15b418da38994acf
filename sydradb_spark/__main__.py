"""``python -m sydradb_spark`` — the serve binary + CSV importer.

The reference's process entry point just runs the server (src/main.zig:8);
``serve`` is that, over Spark: one engine on a storage-backed table, the
HTTP front-end (server.py, reference http.zig routes) and the pgwire
front-end (compat/wire.py) on local ports. ``csv-import`` realizes the
reference's placeholder CSV CLI (cmd/sydra-csv/main.zig is a 1-line stub);
``query`` is a one-shot sydraQL runner printing the HTTP response JSON.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="sydradb_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def _add_store_root(sp) -> None:
        sp.add_argument(
            "--store-root",
            default=None,
            help="objectstore root for the table's manifest "
            "(LocalFSObjectStore; r14 — required when --storage is a "
            "non-POSIX URI, where no manifest can live beside the data)",
        )

    serve = sub.add_parser("serve", help="run HTTP + pgwire front-ends")
    _add_store_root(serve)
    serve.add_argument("--storage", required=True, help="points table path")
    serve.add_argument("--host", default="127.0.0.1")
    serve.add_argument("--http-port", type=int, default=8080)
    serve.add_argument("--pg-port", type=int, default=5433)
    serve.add_argument("--auth-token", default="", help="Bearer token for /api/*")
    serve.add_argument("--max-rows", type=int, default=10_000)

    csv = sub.add_parser("csv-import", help="append CSV points to a table")
    _add_store_root(csv)
    csv.add_argument("file", help="CSV path: header series,ts,value[,tags]")
    csv.add_argument("--storage", required=True)

    q = sub.add_parser("query", help="run one sydraQL statement, print JSON")
    _add_store_root(q)
    q.add_argument("sydraql")
    q.add_argument("--storage", required=True)
    q.add_argument("--max-rows", type=int, default=10_000)

    # maintenance jobs (the reference runs these internally; here they are
    # explicit so a scheduler owns the cadence)
    opt = sub.add_parser("optimize", help="merge small files per hour partition")
    _add_store_root(opt)
    opt.add_argument("--storage", required=True)
    opt.add_argument("--max-files", type=int, default=4)

    vac = sub.add_parser("vacuum", help="drop unreferenced files + old manifests")
    _add_store_root(vac)
    vac.add_argument("--storage", required=True)
    vac.add_argument("--keep-versions", type=int, default=2)
    vac.add_argument("--min-age-seconds", type=int, default=600)

    snap = sub.add_parser("snapshot", help="O(metadata) hardlink snapshot")
    _add_store_root(snap)
    snap.add_argument("--storage", required=True)
    snap.add_argument("dest")

    rest = sub.add_parser("restore", help="restore a snapshot over a table")
    _add_store_root(rest)
    rest.add_argument("snapshot_path")
    rest.add_argument("--storage", required=True)

    ret = sub.add_parser(
        "retention", help="drop hour partitions wholly older than the TTL"
    )
    _add_store_root(ret)
    ret.add_argument("--storage", required=True)
    ret.add_argument("--ttl-days", type=float, required=True)
    ret.add_argument(
        "--now",
        type=int,
        required=True,
        help="epoch seconds 'now' (explicit for replayable runs)",
    )
    return p


def main(argv: list[str] | None = None, spark=None) -> int:
    args = build_parser().parse_args(argv)

    store = None
    if getattr(args, "store_root", None):
        from sydradb_spark.objectstore import LocalFSObjectStore

        store = LocalFSObjectStore(args.store_root)

    # vacuum/snapshot/restore/retention are pure filesystem/manifest
    # operations — dispatch them BEFORE paying JVM + SparkSession startup
    # (a scheduler runs these on a cadence; seconds and memory matter)
    if args.cmd == "vacuum":
        from sydradb_spark.storage import vacuum_points

        removed = vacuum_points(
            args.storage, store, args.keep_versions, args.min_age_seconds
        )
        print(json.dumps({"removed": len(removed)}))
        return 0
    if args.cmd == "snapshot":
        from sydradb_spark.storage import snapshot

        snapshot(args.storage, args.dest, store=store)
        print(json.dumps({"snapshot": args.dest}))
        return 0
    if args.cmd == "restore":
        from sydradb_spark.storage import restore

        restore(args.snapshot_path, args.storage, store=store)
        print(json.dumps({"restored": args.storage}))
        return 0
    if args.cmd == "retention":
        from sydradb_spark.storage import SECONDS_PER_HOUR, drop_expired_partitions

        cutoff = args.now - int(args.ttl_days * 86400)
        cutoff_bucket = (cutoff // SECONDS_PER_HOUR) * SECONDS_PER_HOUR
        dropped = drop_expired_partitions(args.storage, cutoff_bucket, store=store)
        print(json.dumps({"dropped_hour_buckets": dropped}))
        return 0

    if spark is None:
        from sydradb_spark.session import get_spark

        spark = get_spark(f"sydradb-{args.cmd}")

    if args.cmd == "optimize":
        from sydradb_spark.storage import optimize_partitions

        merged = optimize_partitions(
            spark, args.storage, args.max_files, store=store
        )
        print(json.dumps({"optimized_hour_buckets": merged}))
        return 0
    if args.cmd == "csv-import":
        from sydradb_spark.ingest import read_csv_points
        from sydradb_spark.storage import write_points

        pts = read_csv_points(spark, args.file)
        n = pts.count()
        write_points(pts, args.storage, mode="append", store=store)
        print(json.dumps({"ingested": n}))
        return 0

    from sydradb_spark.sydraql.engine import SydraQLEngine

    engine = SydraQLEngine(spark, storage_path=args.storage, store=store)

    if args.cmd == "query":
        from sydradb_spark.api import to_response

        print(json.dumps(to_response(engine.query(args.sydraql), args.max_rows), default=str))
        return 0

    # serve
    from sydradb_spark.compat.wire import PgWireServer
    from sydradb_spark.server import SydraHttpServer

    http = SydraHttpServer(
        engine,
        host=args.host,
        port=args.http_port,
        auth_token=args.auth_token,
        max_rows=args.max_rows,
    ).start()
    pg = PgWireServer(engine, host=args.host, port=args.pg_port, max_rows=args.max_rows).start()
    print(
        json.dumps({"http": list(http.addr), "pgwire": list(pg.addr)}),
        flush=True,
    )
    try:
        import threading

        threading.Event().wait()  # run until interrupted
    except KeyboardInterrupt:
        pass
    finally:
        http.stop()
        pg.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
