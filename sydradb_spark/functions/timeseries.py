"""Time-series functions as Spark Column compositions.

Each function here implements one entry of the reference registry
(src/sydra/query/functions.zig:208-406) Spark-first: built-in JVM
expressions wherever possible so plans stay inside whole-stage codegen;
the single genuinely-recursive one (ema) uses an Arrow-batched
grouped-map pandas UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def time_bucket(duration_s: Column | int, ts: Column, origin: Column | int = 0) -> Column:
    """Half-open ``[start, start+step)`` bucket floor — reference
    expression.zig:147-156 (2-arg) + the 3-arg origin variant the registry
    declares (functions.zig:314-324) but never implemented.

    ``floor((ts - origin) / dur) * dur + origin``, epoch-second longs.
    """
    dur = F.lit(duration_s) if isinstance(duration_s, int) else duration_s
    org = F.lit(origin) if isinstance(origin, int) else origin
    return (F.floor((ts - org) / dur) * dur + org).cast("long")


def first_agg(x: Column, ts: Column) -> Column:
    """first(x) = value at earliest ts (functions.zig:239-245). Ties at the
    same ts break to the SMALLEST value (struct ordering key) — the
    reference's single-node scan order doesn't exist on a cluster, so a
    deterministic tie-break is what makes the operator reproducible across
    runs and partitionings (found by the sf1 gate: second-resolution ts
    ties made min_by pick different rows than the DuckDB oracle)."""
    return F.min_by(x, F.struct(ts, x))


def last_agg(x: Column, ts: Column) -> Column:
    """last(x) = value at latest ts (functions.zig:246-252). Ties at the
    same ts break to the LARGEST value — see ``first_agg``."""
    return F.max_by(x, F.struct(ts, x))


def delta_agg(x: Column, ts: Column) -> Column:
    """delta(x) = last - first within the group (functions.zig:359-365) —
    same deterministic ts-tie-break as first_agg/last_agg."""
    return F.max_by(x, F.struct(ts, x)) - F.min_by(x, F.struct(ts, x))


def rate_agg(x: Column, ts: Column) -> Column:
    """rate(x) = per-second increase over the group (functions.zig:345-351):
    (last - first) / (max(ts) - min(ts)); null for a single-point group.
    Same deterministic ts-tie-break as first_agg/last_agg."""
    span = F.max(ts) - F.min(ts)
    return F.when(
        span > 0,
        (F.max_by(x, F.struct(ts, x)) - F.min_by(x, F.struct(ts, x))) / span,
    )


def irate_expr(x: Column, prev_x: Column, ts: Column, prev_ts: Column) -> Column:
    """Instantaneous rate from two adjacent samples (functions.zig:352-358).
    Aggregate as ``max_by(irate_expr(...), ts)`` to take the last pair in
    the group. Requires precomputed lag columns (see translator)."""
    gap = ts - prev_ts
    return F.when(gap > 0, (x - prev_x) / gap)


def trapezoid_expr(x: Column, prev_x: Column, ts: Column, prev_ts: Column) -> Column:
    """One trapezoid of integral(x) (functions.zig:366-372):
    (x + prev) / 2 * dt. Aggregate as ``sum(...)`` per group; the first
    sample of each series contributes null → skipped by sum."""
    return (x + prev_x) / F.lit(2.0) * (ts - prev_ts)


def with_ema(
    df: DataFrame,
    src_col: str,
    out_col: str,
    alpha: float,
    partition_col: str = "series_id",
    ts_col: str = "ts",
) -> DataFrame:
    """ema(x, dur, alpha): recursive exponential moving average
    (functions.zig:383-393 — registry-only in the reference; semantics:
    s_i = alpha * x_i + (1 - alpha) * s_{i-1} over ts order per series).

    Computed as a SEGMENTED scan (functions/chunked.py): the sequential
    recursion runs per bounded (series, time-chunk) group in an Arrow
    kernel, and cross-chunk state folds over a one-row-per-chunk summary
    frame — a hot series no longer materializes in a single pandas frame on
    one task.

    DECIDED SEMANTIC for ``dur``: retained in the signature for reference
    parity but intentionally inert — this is a DISCRETE-time EMA (constant
    alpha per sample, ts order only). Rationale: (a) the reference registers
    ema(x, dur, alpha) but never implements or specifies it
    (functions.zig:383-393 is registry-only), so there is no behavior to
    match; (b) discrete EMA is what comparable engines ship (e.g. InfluxDB's
    exponential_moving_average takes no duration); (c) an irregular-sampling
    time-decay variant (alpha scaled by gap/dur) can later reuse the same
    signature and chunked kernel without breaking callers — only the kernel's
    per-row alpha changes.
    """
    from sydradb_spark.functions.chunked import with_chunked_ema

    return with_chunked_ema(
        df, src_col, out_col, alpha, partition=partition_col, ts_col=ts_col
    )


def value_histogram(
    df: DataFrame,
    lo: float,
    hi: float,
    n_bins: int = 20,
    value_col: str = "value",
) -> DataFrame:
    """(bin, lo, hi, n) — fixed-range equal-width histogram of a value
    column; beyond-reference profiling (the reference's stats stop at
    percentile). Out-of-range values clamp into the edge bins so totals
    are conserved. ONE combining groupBy on the bin index — bin count
    bounded by ``n_bins``, not data; at 100 TB this is a map-side-partial
    aggregate like any count.
    """
    if not (hi > lo and n_bins > 0):
        raise ValueError("require hi > lo and n_bins > 0")
    w = (hi - lo) / n_bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(w)).cast("long")
    b = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
    # NaN is NOT an out-of-range value: isNotNull passes it, and the
    # non-ANSI long cast would silently drop it into bin 0
    ok = F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col).cast("double"))
    return (
        df.where(ok)
        .groupBy(b.alias("bin"))
        .agg(F.count("*").alias("n"))
        .select(
            "bin",
            (F.lit(lo) + F.col("bin") * F.lit(w)).alias("lo"),
            (F.lit(lo) + (F.col("bin") + 1) * F.lit(w)).alias("hi"),
            "n",
        )
    )


def anomalies_zscore(
    df: DataFrame,
    threshold: float = 3.0,
    partition_col: str = "series_id",
    value_col: str = "value",
) -> DataFrame:
    """Rows whose value deviates more than ``threshold`` population standard
    deviations from their series mean — the basic monitoring outlier sweep
    (beyond-reference; the rate/delta family covers trends, not outliers).
    Adds ``zscore``. Series with stddev 0 (constant) flag nothing.

    Scale shape: one combining per-series aggregate (mean, stddev_pop — a
    few doubles per series) joined back on the series key; both sides hash
    to the same partitioning, so Catalyst reuses the exchange. No window,
    no sort.
    """
    # drop NaN values up front: avg/stddev propagate NaN (unlike null), and
    # Spark orders NaN above every number, so one NaN point would otherwise
    # make __sd NaN, pass both comparisons, and flag the WHOLE series
    clean = df.where(
        F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col).cast("double"))
    )
    stats = clean.groupBy(partition_col).agg(
        F.avg(value_col).alias("__mu"),
        F.stddev_pop(value_col).alias("__sd"),
    )
    z = (F.col(value_col) - F.col("__mu")) / F.col("__sd")
    return (
        clean.join(stats, on=partition_col)
        .where((F.col("__sd") > 0) & (F.abs(z) > threshold))
        .withColumn("zscore", F.round(z, 6))
        .drop("__mu", "__sd")
    )


_pickle_by_value_registered = False


def _register_pickle_by_value() -> None:
    """Ship this module's code with UDF closures, so the ``lttb`` kernel
    unpickles on workers that cannot import sydradb_spark (the pattern of
    ``pipeline/events.py``). Once per process."""
    global _pickle_by_value_registered
    if _pickle_by_value_registered:
        return
    from pyspark import cloudpickle

    import sydradb_spark.functions.timeseries as _mod

    cloudpickle.register_pickle_by_value(_mod)
    _pickle_by_value_registered = True


def lttb_indices(t, v, n_out: int):
    """The one LTTB kernel: positions (into ``t`` and ``v``) of the
    Largest-Triangle-Three-Buckets picks, in (ts, value) order — first and
    last point kept, each of the ``n_out - 2`` interior buckets keeping the
    point forming the largest triangle with the previous pick and the next
    bucket's centroid. A series of at most ``n_out`` points keeps all of
    them. The input need not be sorted: a stable (ts, value) sort with NaN
    values last comes first, so duplicate timestamps pick the same points
    on every request. ``lttb`` (per series, in an Arrow task) and the HTTP
    range route (on the driver, over one bounded collect) both call it."""
    import numpy as np

    t = np.asarray(t)
    v = np.asarray(v, dtype="float64")
    order = np.lexsort((v, t))
    n = len(order)
    if n <= n_out:
        return order
    t = t[order].astype("float64")
    v = v[order]
    # n_out-2 interior buckets over points 1..n-2
    edges = np.linspace(1, n - 1, n_out - 1).astype(int)
    keep = [0]
    prev = 0

    def _seq_mean(a: np.ndarray) -> float:
        # strict left-to-right summation: cumsum's last prefix is by
        # construction the sequential fold, unlike ndarray.mean's
        # 8-way-unrolled pairwise sum (ADVICE r12) — this makes the
        # centroid bit-reproducible against any engine that folds
        # left-to-right (the DuckDB oracle twin uses list_reduce)
        return float(np.cumsum(a)[-1]) / len(a)

    for b in range(n_out - 2):
        s, e = edges[b], edges[b + 1]
        nxt_s, nxt_e = edges[b + 1], (edges[b + 2] if b + 2 < len(edges) else n)
        cx = _seq_mean(t[nxt_s:nxt_e]) if nxt_e > nxt_s else t[e - 1]
        cy = _seq_mean(v[nxt_s:nxt_e]) if nxt_e > nxt_s else v[e - 1]
        area = np.abs(
            (t[prev] - cx) * (v[s:e] - v[prev]) - (t[prev] - t[s:e]) * (cy - v[prev])
        )
        prev = s + int(area.argmax())
        keep.append(prev)
    keep.append(n - 1)
    return order[keep]


def lttb(
    df: DataFrame,
    n_out: int,
    partition_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling to ``n_out`` points per
    series (``lttb_indices``) — the standard chart-serving downsampler
    (TimescaleDB ships the same op), preserving visual extremes where
    averaging flattens them. Beyond-reference (the reference serves raw
    ranges).

    Scale/usage note: the selection is sequential over a series' points, so
    each (series) group runs in one Arrow task — this operator is for
    bounded ranges, not corpus-wide batch rewriting; the chunked-window
    machinery does not apply because bucket picks depend on the previous
    pick. One bounded single-series range is cheaper on the driver: the
    HTTP range route collects it and calls ``lttb_indices`` directly.
    """
    if n_out < 3:
        raise ValueError("n_out must be >= 3 (first + last + interior)")
    _register_pickle_by_value()

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        idx = lttb_indices(
            pdf[ts_col].to_numpy(), pdf[value_col].to_numpy(dtype="float64"), n_out
        )
        return pdf.iloc[idx]

    return df.groupBy(partition_col).applyInPandas(pick, df.schema)


def detect_gaps(
    df: DataFrame,
    max_gap_s: int,
    partition_col: str = "series_id",
    ts_col: str = "ts",
) -> DataFrame:
    """(series, gap_start, gap_end, gap_s) — per-series intervals longer
    than ``max_gap_s`` with no data (heartbeat/outage sweep; the complement
    of sessionization). gap_start/gap_end are the bounding points'
    timestamps. Beyond-reference monitoring utility.

    Scale shape: rides the chunked lag machinery (`functions/chunked.py`),
    so a hot series spreads across bounded (series, time-chunk) partitions
    instead of pinning one task; the filter on the lag delta is a narrow
    map afterwards.
    """
    from sydradb_spark.functions.chunked import LagRequest, with_chunked_lag_lead

    lagged = with_chunked_lag_lead(
        df.select(partition_col, ts_col),
        [LagRequest(ts_col, "__prev_ts", 1, "lag")],
        partition=partition_col,
        ts_col=ts_col,
        tiebreak=ts_col,
    )
    gap = F.col(ts_col) - F.col("__prev_ts")
    return (
        lagged.where(F.col("__prev_ts").isNotNull() & (gap > max_gap_s))
        .select(
            F.col(partition_col).alias("series"),
            F.col("__prev_ts").alias("gap_start"),
            F.col(ts_col).alias("gap_end"),
            gap.cast("long").alias("gap_s"),
        )
    )


def stale_series(
    df: DataFrame,
    now_ts: int,
    timeout_s: int,
    partition_col: str = "series_id",
    ts_col: str = "ts",
) -> DataFrame:
    """(series, last_ts, age_s) — series whose newest point is older than
    ``timeout_s`` at ``now_ts`` (dead-sender detection). One combining
    max-aggregate per series; pass ``now_ts`` explicitly so results are
    replayable (same argument as the hash-sampling determinism rule)."""
    last = df.groupBy(F.col(partition_col).alias("series")).agg(
        F.max(ts_col).alias("last_ts")
    )
    age = F.lit(now_ts) - F.col("last_ts")
    return last.where(age > timeout_s).select(
        "series", "last_ts", age.cast("long").alias("age_s")
    )


def increase_expr(x: Column, prev_x: Column) -> Column:
    """One term of counter-reset-aware ``increase(x)`` (beyond-reference;
    Prometheus semantics): the positive delta to the previous sample, or
    the raw reading after a reset (a drop means the counter restarted, so
    the new value IS the post-reset growth). Aggregate as ``sum(...)``;
    the series head contributes null → skipped."""
    return F.when(prev_x.isNull(), F.lit(None).cast("double")).otherwise(
        F.when(x >= prev_x, x - prev_x).otherwise(x)
    )
