"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the configs below are chosen so the same
code scales to a multi-executor cluster: AQE handles runtime re-planning and
skew joins, shuffle partitions sized for local testing but overridable via
env, Arrow enabled for the (few) pandas-UDF operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Driver heap default: 16g, bounded by ~40% of the host's available
    memory (r15 advice): the pre-touched fixed heap (below) commits AND
    faults every page at JVM start, so a 16g default on a box with less
    free RAM than that would swap-storm where the old lazy-commit heap
    merely risked later OOM. Explicit SYDRA_DRIVER_MEM always wins."""
    env = os.environ.get("SYDRA_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(16, int(avail_gb * 0.4)))}g"
    except OSError:
        pass
    return "16g"


def get_spark(app_name: str = "sydradb-spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = os.environ.get("SYDRA_SHUFFLE_PARTITIONS", cpus)
    driver_mem = _default_driver_mem()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
        # At 100 TB this is what keeps a static partition count from being wrong
        # in both directions.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        # Arrow for pandas UDFs (ema, embedding ops) — batch transfer, not per-row.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Timestamps in the points model are epoch seconds (LongType); session TZ
        # pinned to UTC so hour bucketing matches the reference's UTC hours
        # (reference src/sydra/engine.zig:371-374).
        .config("spark.sql.session.timeZone", "UTC")
        # the reference coerces numerics leniently (value.zig:25-69) and we
        # document div-by-zero → null (SURVEY §7.2); ANSI mode would raise
        .config("spark.sql.ansi.enabled", "false")
        # the driver's events.parquet stores TIMESTAMP(NANOS) which Spark
        # cannot represent — read as long (nanoseconds) and normalize in
        # sydradb_spark.tables.load_events
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[N] puts driver, executors, caches AND broadcast builds in
        # ONE heap; 8g fit sf0.1 but left sf10's cached shingle table
        # (~1.3 GB) competing with broadcast builds. 16g is still ~1/8 of
        # the 128 GiB test box; a real cluster sizes driver/executor
        # memory separately and is unaffected by this local-mode knob.
        .config("spark.driver.memory", driver_mem)
        # Pin AND pre-fault the whole heap at JVM start (r15, guide §5).
        # Measured on the r15 sandbox (guest RAM demand-paged through slow
        # host backing): G1 rotates allocation across ever-new regions, so
        # a floating heap keeps first-touching fresh pages for the life of
        # the app — during bad host windows that surfaced as 20-80 s
        # kernel-time stalls (30+ cores in sys time, /proc/stat) in the
        # MIDDLE of queries, 10-25x on individual bench entries. With
        # Xms=Xmx + AlwaysPreTouch every heap page is faulted once at
        # startup and queries never fault again: the same 10-rep minhash
        # loop went from runs of {3-7 s with 29-83 s stalls} to a flat
        # 1.8-3.8 s. Same flags are the standard production sizing for
        # executors (fixed heap, no commit/uncommit churn); override via
        # SYDRA_DRIVER_JVM_OPTS (empty string disables).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SYDRA_DRIVER_JVM_OPTS",
                f"-Xms{driver_mem} -XX:+AlwaysPreTouch",
            ),
        )
        # Output-committer algorithm 2 (r16, guide §6/§7.3): v1's job
        # commit renames every task's files a SECOND time, sequentially,
        # on the driver — pure overhead here because no write is published
        # by the committer: every table write stages through a private
        # .staging-<uuid>/ dir and becomes visible only via the MANIFEST
        # commit (storage.write_points), so v2's weaker job-level
        # atomicity (task files appear in the staging dir as tasks commit)
        # changes nothing a reader can observe; a crashed job leaves
        # orphans in a hidden dir that storage.vacuum_points reclaims.
        # At 10^4-10^5 files per write the v1 driver-side rename pass is
        # a real serial bottleneck (§7.3 commit-protocol stalls).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # verify harnesses collect full operator outputs for the DuckDB
        # compare; at the sf100 twins a 5M-row text frame exceeds the 1g
        # default result cap. Collect-free production paths never hit this.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SYDRA_MAX_RESULT", "8g"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # list up to 1024 read paths on the driver instead of in a Spark
        # job: storage opens the points table from its manifest's exact file
        # list, and above the default 32 paths every engine open and every
        # post-ingest refresh ran a listing job that fought the readers for
        # the same local cores. Here the job's tasks stat the same local
        # disk the driver would; see DEPLOY.md for the cluster setting.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    )
    return builder.getOrCreate()


def cluster_conf(
    target_partition_mb: int = 128,
    shuffle_partitions: int = 2000,
) -> dict[str, str]:
    """Recommended overrides for a real cluster run (100 TB-class inputs);
    local get_spark() keeps small-scale defaults. Apply via spark-submit
    --conf or SparkSession.builder.config. Rationale in DEPLOY.md.
    """
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # initial shuffle width; AQE coalesces down — err high so no single
        # reducer sees more than ~executor-memory/cores of data
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # scan split size: keep a task's input within memory budget even for
        # wide binary (multimodal) rows
        "spark.sql.files.maxPartitionBytes": str(target_partition_mb * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # fixed, pre-faulted executor heaps (same rationale as the driver
        # flags in get_spark: no commit/uncommit churn, no mid-query
        # first-touch page-fault storms; pair with -Xms=<executor memory>)
        "spark.executor.extraJavaOptions": "-XX:+AlwaysPreTouch",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.parquet.filterPushdown": "true",
        # manifest-committed writes (see get_spark): the committer never
        # publishes, so skip v1's serial driver-side job-commit rename pass
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        # hour-partitioned tables can reach 10^5+ partitions over a decade;
        # listing must stay parallel (get_spark raises this for one host;
        # DEPLOY.md "Session configuration" says why the two differ)
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "32",
    }
