"""Small shared helpers: DataFrame shaping (``spread``, ``salted_agg``,
``drop_hot_keys``) and the index commit marker. Operations on a table's
data files live in ``datafs``."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_marker(path: str, text: str) -> None:
    """Write the file ``path`` whole or not at all: a temp file beside it,
    then ``os.replace``. An index writes its commit marker this way AFTER
    its data (and removes the old marker before it), so a reader that
    finds the marker finds complete data, and a crash in between leaves no
    marker."""
    import os

    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's parallelism when the input arrives in
    fewer splits (e.g. one small parquet file below maxPartitionBytes) —
    otherwise every narrow stage downstream runs single-task. No-op when the
    source already has enough splits (the at-scale case)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        # partition count straight from the physical plan's RDD — planning
        # happens here either way when the query runs, but this skips the
        # javaToPython serializer stage that ``df.rdd`` would bolt on per
        # call (r8 verdict nit).
        n = df._jdf.queryExecution().executedPlan().execute().getNumPartitions()
    except Exception:  # pragma: no cover - internal-API fallback
        n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[Column, Column]],
    salt_buckets: int = 64,
) -> DataFrame:
    """Two-phase aggregation for skewed grouping keys.

    ``aggs`` maps output name → (partial_agg_expr, final_agg_expr_over_partial),
    e.g. ``{"n": (F.count("*"), F.sum("n")), "mx": (F.max("v"), F.max("mx"))}``
    — the final expr references the partial's output name. Phase 1 groups by
    (keys + random salt) so one hot key spreads over ``salt_buckets``
    reducers; phase 2 folds the (tiny) per-salt partials. Only associative
    aggregates qualify — the same law the rollup table relies on.

    AQE's skew handling covers skewed *joins*; a skewed groupBy still funnels
    one key's rows to one task — this is the standard fix.
    """
    salted = df.withColumn("__salt", (F.rand(seed=0) * salt_buckets).cast("int"))
    partial = salted.groupBy(*keys, "__salt").agg(
        *[expr.alias(name) for name, (expr, _) in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[final.alias(name) for name, (_, final) in aggs.items()]
    )


def drop_hot_keys(df: DataFrame, keys: list[str], max_n: int) -> DataFrame:
    """Drop every row whose grouping-key value occurs more than ``max_n``
    times — the hot-bucket guard in front of per-key collect_list + pair
    expansion (LSH buckets, winnowing fingerprints), where one degenerate
    key (boilerplate collapse) would otherwise mean ~max_n² pairs times
    millions.

    Shape is load-bearing at scale, and BOTH naive shapes fail on exactly
    the degenerate key this guard exists for:

    - a count-aggregate of ALL keys joined back lets Catalyst broadcast a
      multi-million-row size frame (post-aggregate size estimates land
      under autoBroadcastJoinThreshold) — OOM'd the driver at 100x data;
    - ``Window.partitionBy(keys)`` routes every row of a key through ONE
      task, so the multi-million-row hot key becomes a single spill-heavy
      straggler AQE cannot split.

    The shipped shape is a parallel count (groupBy has map-side partial
    aggregation, so even the degenerate key reduces to ~one partial row
    per task) filtered down to the HOT keys only, anti-joined back with an
    explicit ``shuffle_hash`` strategy hint — the hint forbids the static
    planner's broadcast mis-plan regardless of its size estimate, the hot
    side is tiny by construction, and the anti join's hash partitioning on
    the keys is reused by the collect_list/groupBy that follows (one
    effective shuffle of the big table, no single-task stage anywhere).
    Null-safe equality keeps the pre-r08 window semantics for nullable
    keys (a hot NULL key is dropped, not leaked past the guard).
    """
    hot = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > max_n)
        .select(*[F.col(k).alias(f"__hot_{k}") for k in keys])
        .hint("shuffle_hash")
    )
    cond = None
    for k in keys:
        c = df[k].eqNullSafe(hot[f"__hot_{k}"])
        cond = c if cond is None else (cond & c)
    return df.join(hot, cond, "left_anti")
