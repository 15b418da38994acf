"""Materialized time-bucket rollups.

The reference plans a rollup hint on ``GROUP BY time_bucket(...)`` aggregates
(plan.zig:19-21,283-293) but never uses it. Here it's realized Spark-first:

- ``build_rollup``: one pass over the points table producing per
  (series_id, bucket) partial aggregates — count/sum/min/max plus
  (first_v, first_ts) / (last_v, last_ts) pairs. Every kept statistic is
  ASSOCIATIVE, which is the whole design: any coarser bucket (day, week)
  combines from the hourly rollup without touching raw points.
- ``combine_rollup``: re-bucket a rollup to a coarser step by merging
  partials (counts add, min/max fold, first/last pick by their timestamps).

At 100 TB an hourly rollup is ~3600x smaller than 1 Hz raw points; dashboard
queries over months hit the rollup and shuffle thousands of rows instead of
billions. Write it with storage.write_points-style partitioning and refresh
incrementally per hour partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sydradb_spark.functions.timeseries import time_bucket

ROLLUP_COLS = [
    "series_id",
    "series",
    "bucket",
    "cnt",
    "cnt_v",
    "sum_v",
    "min_v",
    "max_v",
    "first_ts",
    "first_v",
    "last_ts",
    "last_v",
]


def ensure_rollup_compat(df: DataFrame) -> DataFrame:
    """Read-compat shim for rollup partials written before ``cnt_v`` (the
    non-null value count, r13) joined ROLLUP_COLS: synthesize the column
    when a parquet set predates it. Legacy partials tracked no null
    distinction — their served avg was sum_v/cnt — so ``cnt_v = cnt`` is
    exactly the pre-upgrade semantics for old rows, while rows written
    since keep the null-correct count. Without this every pre-existing
    rollup table (including the earlier-release tables
    ``init_rollup_manifest`` adopts) raised AnalysisException
    at its first post-upgrade read (ADVICE r13).

    New-path writes never produce a null cnt_v (``F.count``/``F.sum`` over
    non-null longs), so a null here can only mean a legacy file read under
    a merged schema — coalescing to ``cnt`` is unambiguous."""
    if "cnt_v" not in df.columns:
        return df.withColumn("cnt_v", F.col("cnt"))
    return df.withColumn("cnt_v", F.coalesce(F.col("cnt_v"), F.col("cnt")))


def build_rollup(points: DataFrame, step_s: int = 3600) -> DataFrame:
    """Partial aggregates per (series_id, bucket). Single shuffle with
    map-side combine; tags are dropped (series_id keys them — rejoin the
    series catalog when needed)."""
    b = time_bucket(step_s, F.col("ts"))
    return (
        points.groupBy("series_id", b.alias("bucket"))
        .agg(
            F.min("series").alias("series"),
            F.count("*").alias("cnt"),
            # non-null value count (r13 review): avg must divide by the
            # values avg(value) actually averages — sum_v/cnt silently
            # diverges from the raw path when a bucket holds null values
            F.count("value").alias("cnt_v"),
            F.sum("value").alias("sum_v"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
            F.min("ts").alias("first_ts"),
            # same deterministic tie-break as functions.timeseries.first_agg
            F.min_by("value", F.struct("ts", "value")).alias("first_v"),
            F.max("ts").alias("last_ts"),
            F.max_by("value", F.struct("ts", "value")).alias("last_v"),
        )
        .select(*ROLLUP_COLS)
    )


def combine_rollup(rollup: DataFrame, step_s: int) -> DataFrame:
    """Fold a finer rollup into coarser buckets (step_s must be a multiple of
    the rollup's step for bucket alignment)."""
    b = time_bucket(step_s, F.col("bucket"))
    return (
        rollup.groupBy("series_id", b.alias("bucket"))
        .agg(
            F.min("series").alias("series"),
            F.sum("cnt").alias("cnt"),
            F.sum("cnt_v").alias("cnt_v"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            F.min("first_ts").alias("first_ts"),
            # struct tie-break (r13 review): two partials of one bucket can
            # share the same first_ts/last_ts whole second (the sf1 tie
            # scenario above) — ordering by the bare ts picked whichever
            # partial arrived first, diverging run-to-run and from
            # build_rollup's min_by(value, struct(ts, value)). min over
            # struct(first_ts, first_v) == the global struct minimum, so
            # combine-of-partials equals one-shot build exactly.
            F.min_by("first_v", F.struct("first_ts", "first_v")).alias("first_v"),
            F.max("last_ts").alias("last_ts"),
            F.max_by("last_v", F.struct("last_ts", "last_v")).alias("last_v"),
        )
        .select(*ROLLUP_COLS)
    )


def rollup_answer(rollup: DataFrame) -> DataFrame:
    """Render a rollup (at its current bucketing) as the aggregate row shape a
    ``group by time_bucket(...)`` query would produce; avg derives from
    sum/count so it needs no extra state."""
    return rollup.select(
        "series_id",
        "series",
        "bucket",
        F.col("cnt").alias("n"),
        "sum_v",
        (F.col("sum_v") / F.col("cnt_v")).alias("avg_v"),
        "min_v",
        "max_v",
        "first_v",
        "last_v",
    )
