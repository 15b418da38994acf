"""Per-series window primitives: chunk-and-carry forms for unbounded time
ranges, one-pass forms for bounded ones.

``Window.partitionBy("series_id")`` binds one series to ONE task — at 100 TB
a hot series becomes the straggler that bounds the whole stage (AQE does not
split window partitions; it only mitigates join skew). The ``with_chunked_*``
windows are therefore computed in bounded ``(series_id, time-chunk)``
partitions, with cross-chunk state carried through a per-chunk summary frame
holding ONE row per chunk (a year of data is ~365 summary rows per series at
the default day-sized chunk) — the same chunk-and-carry pattern
``functions/fill.py`` uses for its dense spine.

When chunk-and-carry runs: the sydraQL translator picks the plan from the
WHERE's literal time bounds (``translator.one_pass_windows``). The WHERE
filter runs before the window pre-pass, so when both bounds exist and
``max - min`` is at most one chunk (``WINDOW_CHUNK_S``, or ``dur`` for
``moving_avg`` when larger), no series can hold more than one chunk of rows
— exactly the partition limit the chunks exist to keep. Such a query runs
the one-pass forms below (``with_lag_lead``, ``with_fill_forward``,
``with_moving_avg``): one window partitioned by series alone, no chunk
column, no ghost union, no summary/carry pass. A half-open or longer range
keeps the chunked forms.

Exactness: the carry reconstructs precisely the rows a global per-series
window would see —

- ``lag(n)`` / ``lead(n)``: each chunk's last/first ``n`` rows accumulate
  across the summary frame, so the fallback for a row near a chunk edge
  indexes the true global predecessor/successor even across empty chunks;
- ``fill_forward``: the last non-null value per chunk carries forward over
  the summary frame;
- ``moving_avg(dur)``: with chunk span >= dur the trailing window reaches at
  most one chunk back, so carrying each chunk's last ``dur`` seconds of rows
  is sufficient;
- ``ema(alpha)``: within a chunk the recursion is affine in the incoming
  state, ``s_out = A + B * s_in`` with ``A`` the zero-state EMA and
  ``B = (1-alpha)^rows`` — per-chunk A/B are computed in parallel and folded
  sequentially only over the tiny summary frame (a segmented scan).

Reference: per-series sorted windows are the reference's
``requires_sorted_input`` hint (src/sydra/query/functions.zig:77-82); the
reference runs one series per operator instance, which is exactly the shape
that cannot scale past one core per series.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

WINDOW_CHUNK_S = 86_400  # seconds of data per window partition


def _chunk_col(ts_col: str, chunk_s: int) -> Column:
    """Floor-division chunk id, exact in integer arithmetic. Spark's ``%``
    follows the dividend's sign, so the former ``ts - ts % chunk`` truncated
    toward zero and collapsed all of (-chunk, chunk) into chunk 0 —
    misaligning boundaries (and moving_avg's ghost re-emit) for pre-1970
    timestamps. ``((ts % c) + c) % c`` is the canonical non-negative mod."""
    ts = F.col(ts_col)
    c = F.lit(chunk_s)
    return (ts - (((ts % c) + c) % c)) / c


@dataclass(frozen=True)
class LagRequest:
    """One lag/lead column to materialize: ``kind`` is 'lag' or 'lead'."""

    src: str
    out: str
    n: int
    kind: str


def with_chunked_lag_lead(
    df: DataFrame,
    requests: list[LagRequest],
    partition: str = "series_id",
    ts_col: str = "ts",
    tiebreak: str = "value",
    chunk_s: int = WINDOW_CHUNK_S,
) -> DataFrame:
    """Exact ``lag(src, n)`` / ``lead(src, n)`` over the global per-series
    (ts, tiebreak) order, computed with bounded partitions.

    Within-chunk rows use an ordinary chunk-partitioned window; the first
    (resp. last) ``n`` rows of each chunk fall back to the accumulated tail
    (head) rows of all preceding (following) chunks, flattened in chunk order
    over the one-row-per-chunk summary frame.
    """
    n_lag = max([r.n for r in requests if r.kind == "lag"], default=0)
    n_lead = max([r.n for r in requests if r.kind == "lead"], default=0)
    src_cols = sorted({r.src for r in requests})

    df = df.withColumn("__wchunk", _chunk_col(ts_col, chunk_s).cast("long"))
    w_in = Window.partitionBy(partition, "__wchunk").orderBy(ts_col, tiebreak)
    # ONE canonical total order per chunk: __rn from a single row_number
    # evaluation; __rnd derived arithmetically from it (NOT a second
    # descending window — under duplicate (ts, tiebreak) rows, independent
    # window evaluations each pick their own order among ties, so the
    # "last n rows" by a desc window need not be the rows the asc lead saw
    # as last → mid-run nulls. Found by the sf1 gate, where replica rows
    # tie at whole-second resolution).
    w_chunk = Window.partitionBy(partition, "__wchunk")
    df = df.withColumn("__rn", F.row_number().over(w_in)).withColumn(
        "__rnd", F.count(F.lit(1)).over(w_chunk) - F.col("__rn") + 1
    )
    # NOT checkpointed (r16, reversing r15): the r15 lazy localCheckpoint
    # here persisted the FULL-WIDTH windowed frame (every input column,
    # tags maps included) to save the summary branches re-running the
    # scan + chunk shuffle + windows — but the summary branches are
    # column-PRUNED (they read only partition/chunk/ts/tiebreak/srcs/__rn),
    # so the recompute is narrow while the persist is whole-dataset, and a
    # local checkpoint truncates lineage (executor loss = unrecoverable on
    # a cluster, the r15 verdict's #3). Re-measured r16 at 8 AND 32 cores
    # (interleaved A/B, 6 reps each): checkpoint vs none is a wash on
    # agg_irate_integral / agg_rate_delta / window_lag_lead_ff at both
    # core counts, and the driver's r15 8-core blowup (26.9 s) did not
    # reproduce (1.1-2.5 s) — it was host-stall roulette, not this code.
    # every later step orders by the unique __rn, never re-sorting on the
    # ambiguous (ts, tiebreak) key
    w_rn = Window.partitionBy(partition, "__wchunk").orderBy("__rn")

    # struct sorts lexicographically; __rn before the srcs makes the array
    # order agree with the canonical window order even among full ties
    row_struct = F.struct(
        F.col(ts_col).alias("__t"),
        F.col(tiebreak).alias("__b"),
        F.col("__rn").alias("__r"),
        *[F.col(c).alias(c) for c in src_cols],
    )

    summaries = []
    if n_lag:
        tails = (
            df.where(F.col("__rnd") <= n_lag)
            .groupBy(partition, "__wchunk")
            .agg(F.array_sort(F.collect_list(row_struct)).alias("__tail"))
        )
        w_prev = (
            Window.partitionBy(partition)
            .orderBy("__wchunk")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        prev_all = F.flatten(F.collect_list("__tail").over(w_prev))
        # keep only the last n_lag accumulated rows (older ones unreachable)
        sz = F.size(prev_all)
        prev_tail = F.when(sz <= n_lag, prev_all).otherwise(
            F.slice(prev_all, sz - n_lag + 1, n_lag)
        )
        summaries.append(
            tails.select(
                partition, "__wchunk", prev_tail.alias("__prev_rows")
            )
        )
    if n_lead:
        heads = (
            df.where(F.col("__rn") <= n_lead)
            .groupBy(partition, "__wchunk")
            .agg(F.array_sort(F.collect_list(row_struct)).alias("__head"))
        )
        w_next = (
            Window.partitionBy(partition)
            .orderBy("__wchunk")
            .rowsBetween(1, Window.unboundedFollowing)
        )
        next_all = F.flatten(F.collect_list("__head").over(w_next))
        next_head = F.slice(next_all, 1, n_lead)
        summaries.append(
            heads.select(partition, "__wchunk", next_head.alias("__next_rows"))
        )

    for s in summaries:
        df = df.join(s, on=[partition, "__wchunk"], how="left")

    for r in requests:
        if r.kind == "lag":
            within = F.lag(r.src, r.n).over(w_rn)
            # the global (n - rn + 1)-th-from-last predecessor, 0-based get()
            # (null on out-of-range — no ANSI index error)
            idx0 = F.size("__prev_rows") + F.col("__rn") - F.lit(r.n) - 1
            fallback = F.get("__prev_rows", idx0).getField(r.src)
            df = df.withColumn(
                r.out, F.when(F.col("__rn") > r.n, within).otherwise(fallback)
            )
        else:
            within = F.lead(r.src, r.n).over(w_rn)
            idx0 = F.lit(r.n) - F.col("__rnd")
            fallback = F.get("__next_rows", idx0).getField(r.src)
            df = df.withColumn(
                r.out, F.when(F.col("__rnd") > r.n, within).otherwise(fallback)
            )

    drop = ["__wchunk", "__rn", "__rnd"]
    if n_lag:
        drop.append("__prev_rows")
    if n_lead:
        drop.append("__next_rows")
    return df.drop(*drop)


def with_chunked_fill_forward(
    df: DataFrame,
    src: str,
    out: str,
    partition: str = "series_id",
    ts_col: str = "ts",
    tiebreak: str = "value",
    chunk_s: int = WINDOW_CHUNK_S,
) -> DataFrame:
    """Exact last-non-null carry-forward with bounded partitions: within-chunk
    window + one carried last-non-null value per chunk."""
    # NOT checkpointed (r15, measured): the carry aggregate below re-reads
    # this frame, but the duplicated subtree is only the column-pruned
    # parquet scan + one projection — re-scanning is cheaper than a full
    # persist (guide §5), and at scale the persist would spool the whole
    # input to local disk to save one parallel columnar read.
    df = df.withColumn("__wchunk", _chunk_col(ts_col, chunk_s).cast("long"))
    w_in = (
        Window.partitionBy(partition, "__wchunk")
        .orderBy(ts_col, tiebreak)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = F.last(src, ignorenulls=True).over(w_in)

    nn_struct = F.when(
        F.col(src).isNotNull(),
        F.struct(
            F.col(ts_col).alias("__t"), F.col(tiebreak).alias("__b"), F.col(src).alias("__v")
        ),
    )
    per_chunk = df.groupBy(partition, "__wchunk").agg(
        F.max(nn_struct).alias("__last_nn")  # max of structs = latest (ts, tiebreak)
    )
    w_prev = (
        Window.partitionBy(partition)
        .orderBy("__wchunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = per_chunk.select(
        partition,
        "__wchunk",
        F.last("__last_nn", ignorenulls=True).over(w_prev).getField("__v").alias("__carry"),
    )
    df = df.join(carry, on=[partition, "__wchunk"], how="left")
    return df.withColumn(out, F.coalesce(within, F.col("__carry"))).drop(
        "__wchunk", "__carry"
    )


def with_chunked_moving_avg(
    df: DataFrame,
    src: str,
    out: str,
    dur_s: int,
    partition: str = "series_id",
    ts_col: str = "ts",
    chunk_s: int = WINDOW_CHUNK_S,
) -> DataFrame:
    """Exact trailing time-range mean ``avg(src) over [ts-dur, ts]`` with
    bounded partitions AND O(n) window work.

    Two tricks compose:

    - GHOST carry: chunk span is forced >= dur, so a row's lookback reaches
      at most the immediately previous time chunk; each chunk's trailing
      ``dur`` seconds are re-emitted into the next chunk's partition, making
      every frame fully local to one (series, chunk) partition.
    - PREFIX-DIFFERENCE frames: Spark evaluates a sliding RANGE aggregate by
      re-scanning the frame per row — O(frame) per row (100 s for 10M points
      at a 3600-row frame). But a frame whose LOWER bound is unbounded is
      add-only (``UnboundedPrecedingWindowFunctionFrame`` advances the upper
      edge incrementally, never rescans), so two such frames in the SAME
      window spec give the trailing sum as a difference in O(n):
      ``S  = sum over [unbounded, 0]``        (prefix through ts)
      ``Sp = sum over [unbounded, -(dur+1)]`` (prefix through ts - dur - 1)
      ``avg = (S - Sp) / (C - Cp)``. Both frames share one partition+sort —
      a single WindowExec, no probe rows, no join-back, and therefore no
      synthetic row ids for a task retry to renumber (the round-4 content-
      keyed probe join was retry-safe but evaluated the windowed union twice
      through a self-join plus a distinct — measured 1.7x the cost of this
      shape at sf0.1).
    """
    chunk_s = max(chunk_s, dur_s)
    # NOT checkpointed (r15, measured): the ghost branch re-reads this frame,
    # but the duplicated subtree is only the pruned scan + the chunk-key
    # projection — re-scanning beats persisting the whole input (guide §5);
    # the r15 A/B showed the scan-level checkpoint as a slight regression.
    base = df.withColumn("__wchunk", _chunk_col(ts_col, chunk_s).cast("long"))
    ets = F.col(ts_col).cast("long")

    data = base.withColumn("__ets", ets).withColumn("__ghost", F.lit(0))
    ghosts = (
        base.where(ets >= (F.col("__wchunk") + 1) * F.lit(chunk_s) - F.lit(dur_s))
        .withColumn("__wchunk", F.col("__wchunk") + 1)
        .withColumn("__ets", ets)
        .withColumn("__ghost", F.lit(1))  # lookback mass only, never returned
    )
    return (
        _with_prefix_frames(
            data.unionByName(ghosts), src, dur_s, [partition, "__wchunk"], F.col("__ets")
        )
        .where(F.col("__ghost") == 0)
        .withColumn(out, _trailing_mean())
        .drop("__wchunk", "__ets", "__ghost", *_PREFIX_COLS)
    )


_PREFIX_COLS = ("__S", "__C", "__Sp", "__Cp")


def _with_prefix_frames(
    df: DataFrame, src: str, dur_s: int, partition: list[str], ets: Column
) -> DataFrame:
    """The two add-only prefix frames of ``with_chunked_moving_avg``'s
    docstring, as sum/count columns of one window spec. RANGE frames include
    peers at equal ``ets`` together, so S covers [.., ts] inclusive and Sp
    covers [.., ts - dur - 1]; ``_trailing_mean`` then reads exactly the
    trailing [ts - dur, ts] frame. Materialized as columns so each window
    aggregate is evaluated once."""
    w_cum = (
        Window.partitionBy(*partition)
        .orderBy(ets)
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    w_pre = (
        Window.partitionBy(*partition)
        .orderBy(ets)
        .rangeBetween(Window.unboundedPreceding, -(dur_s + 1))
    )
    return (
        df.withColumn("__S", F.sum(src).over(w_cum))
        .withColumn("__C", F.count(src).over(w_cum))
        .withColumn("__Sp", F.sum(src).over(w_pre))
        .withColumn("__Cp", F.count(src).over(w_pre))
    )


def _trailing_mean() -> Column:
    c_frame = F.col("__C") - F.col("__Cp")
    s_frame = F.coalesce(F.col("__S"), F.lit(0.0)) - F.coalesce(F.col("__Sp"), F.lit(0.0))
    return F.when(c_frame > 0, s_frame / c_frame.cast("double"))


# --- one-pass forms for time-bounded queries ---------------------------------
# Each runs ONE window partitioned by series alone and ordered by the same
# canonical (ts, tiebreak) key as the chunked forms. All columns a call adds
# share one window spec, so they evaluate in one WindowExec over one sort:
# rows that tie on (ts, tiebreak) see a single order, which is what the
# chunked lag's __rn column buys across its several windows.


def with_lag_lead(
    df: DataFrame,
    requests: list[LagRequest],
    partition: str = "series_id",
    ts_col: str = "ts",
    tiebreak: str = "value",
) -> DataFrame:
    """``lag(src, n)`` / ``lead(src, n)`` over the per-series (ts, tiebreak)
    order, for input known to hold at most one chunk per series."""
    w = Window.partitionBy(partition).orderBy(ts_col, tiebreak)
    fn = {"lag": F.lag, "lead": F.lead}
    return df.withColumns({r.out: fn[r.kind](r.src, r.n).over(w) for r in requests})


def with_fill_forward(
    df: DataFrame,
    src: str,
    out: str,
    partition: str = "series_id",
    ts_col: str = "ts",
    tiebreak: str = "value",
) -> DataFrame:
    """Last non-null ``src`` at or before each row, per series."""
    w = (
        Window.partitionBy(partition)
        .orderBy(ts_col, tiebreak)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(out, F.last(src, ignorenulls=True).over(w))


def with_moving_avg(
    df: DataFrame,
    src: str,
    out: str,
    dur_s: int,
    partition: str = "series_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Trailing ``avg(src) over [ts-dur, ts]`` per series, with the same O(n)
    prefix-difference frames as the chunked form and no ghost rows."""
    return (
        _with_prefix_frames(df, src, dur_s, [partition], F.col(ts_col).cast("long"))
        .withColumn(out, _trailing_mean())
        .drop(*_PREFIX_COLS)
    )


def with_chunked_ema(
    df: DataFrame,
    src_col: str,
    out_col: str,
    alpha: float,
    partition: str = "series_id",
    ts_col: str = "ts",
    chunk_s: int = WINDOW_CHUNK_S,
) -> DataFrame:
    """Segmented EMA: s_i = alpha*x_i + (1-alpha)*s_{i-1} (pandas
    ``ewm(adjust=False)`` semantics, s_1 = x_1 at the true series start).

    Within a chunk the recursion is affine in the incoming state:
    ``s_i = z_i + (1-alpha)^i * s_in`` where z is the zero-state EMA. The
    Arrow kernel computes (plain-ewm e, zero-state z, row index i) per
    bounded (series, chunk) group in parallel; the incoming state per chunk
    is folded sequentially ONLY over the one-row-per-chunk summary frame,
    then the final value is a vectorized JVM-side expression.

    Null observations (r13 review): a null ``src_col`` row is excluded from
    the recursion and emitted with a null EMA — the recursion is defined
    over OBSERVED values only. Letting NaNs into the kernel silently mixed
    two models: pandas ewm renormalizes weights around NaNs in-chunk
    (ignore_na=False) while the cross-chunk carry decayed by the TOTAL row
    count — the answer then depended on where the chunk boundary fell."""
    # input NOT checkpointed (r15, measured): the null-row branch re-reads
    # only the pruned scan — cheaper than persisting the whole input
    # (guide §5). The expensive shared subtrees are checkpointed below at
    # the post-window (__i) and post-kernel points instead.
    null_rows = df.where(F.col(src_col).isNull()).withColumn(
        out_col, F.lit(None).cast("double")
    )
    df = df.where(F.col(src_col).isNotNull())
    df = df.withColumn("__wchunk", _chunk_col(ts_col, chunk_s).cast("long"))
    # deterministic per-chunk position: the kernel sorts by THIS column, so
    # the Arrow-side order and the join-back key are the same thing — no
    # monotonically_increasing_id, which a task retry after an upstream
    # shuffle can renumber (silently mismatching kernel rows to data rows)
    w_ord = Window.partitionBy(partition, "__wchunk").orderBy(ts_col, src_col)
    # NOT checkpointed (r16, reversing r15): persisting the __i-numbered
    # frame saves one narrow window re-evaluation but stores the FULL-WIDTH
    # input (tags included) and truncates lineage — the same bad trade as
    # the lag_lead site above; A/B'd as a wash at 8 and 32 cores. The two
    # window evaluations stay value-consistent under ties: rows that tie on
    # the (ts, src) sort key are identical in BOTH columns the kernel
    # consumes, so whichever physical row gets which __i, the kernel input
    # sequence and the join-back values are unchanged (the r13 docstring's
    # argument, independent of evaluation count).
    df = df.withColumn("__i", F.row_number().over(w_ord).cast("long"))
    part_t0 = dict(df.dtypes)[partition]
    ts_t = dict(df.dtypes)[ts_col]
    # Arrow transfer is the kernel's real cost: ship ONLY the columns the
    # recursion needs (a tags map alone can dwarf the numeric payload) and
    # join results back by (series, chunk, position).
    narrow = df.select("__i", partition, "__wchunk", src_col)
    src_t = dict(df.dtypes)[src_col]
    kernel_schema = (
        f"__i long, {partition} {part_t0}, __wchunk long, "
        f"{src_col} {src_t}, __e double, __z double"
    )

    def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__i").reset_index(drop=True)
        x = pdf[src_col].astype("float64")
        padded = pd.concat([pd.Series([0.0]), x], ignore_index=True)
        z = padded.ewm(alpha=alpha, adjust=False).mean().iloc[1:].reset_index(drop=True)
        # e (plain init s_1 = x_1) relates to z algebraically as
        # z_i + (1-alpha)^i * x_1, but the closed form drifts in the last
        # ulp vs the recursion — enough to flip a value across a rounding
        # boundary in the oracle compare. Keep the exact recursion.
        pdf["__e"] = x.ewm(alpha=alpha, adjust=False).mean()
        pdf["__z"] = z.values
        return pdf

    # lazy checkpoint (r15, KEPT in r16): kernel_out feeds BOTH the
    # join-back and the carry summary — un-materialized, the Arrow kernel
    # (the operator's most expensive stage) executed once per consumer;
    # the r13 narrowing fixed what each subtree carried but not the double
    # execution. Unlike the full-width sites removed above, this frame is
    # SIX numeric columns (no text/tags payload), so the persist is small
    # relative to what it saves (a second JVM↔Python round trip over the
    # whole series). Cluster caveat (r15 advice): a local checkpoint
    # truncates lineage — an executor loss during the query fails the job
    # instead of recomputing; acceptable for a bounded-width intermediate
    # whose recompute is the query's most expensive stage.
    kernel_out = (
        narrow.groupBy(partition, "__wchunk")
        .applyInPandas(_kernel, schema=kernel_schema)
        .localCheckpoint(eager=False)
    )
    dfk = df.join(
        kernel_out.select(partition, "__wchunk", "__i", "__e", "__z"),
        on=[partition, "__wchunk", "__i"],
    )

    # carry state from each chunk's LAST row; __i is strictly increasing
    # within a chunk, so duplicate (ts, value) points cannot flip the pick
    # the way a (ts, src) struct key could
    last_row = F.max_by(
        F.struct(F.col("__e").alias("e"), F.col("__z").alias("z")),
        F.col("__i"),
    )
    # summarize the NARROW kernel output, not the joined full-width frame
    # (r13 review): grouping dfk put the Arrow kernel AND the join into
    # both the summary subtree and the output subtree — the two most
    # expensive stages evaluated twice per query
    summary = kernel_out.groupBy(partition, "__wchunk").agg(
        last_row.alias("__last"), F.count("*").alias("__m")
    )

    part_t = dict(df.dtypes)[partition]

    def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__wchunk").reset_index(drop=True)
        state = None
        s_ins = []
        for rec, m in zip(pdf["__last"], pdf["__m"]):
            s_ins.append(state)
            e, z = rec["e"], rec["z"]
            state = e if state is None else z + (1.0 - alpha) ** m * state
        pdf["__s_in"] = pd.Series(s_ins, dtype="float64")
        return pdf[[partition, "__wchunk", "__s_in"]]

    s_in = summary.groupBy(partition).applyInPandas(
        _fold, schema=f"{partition} {part_t}, __wchunk long, __s_in double"
    )

    out = dfk.join(s_in, on=[partition, "__wchunk"], how="left")
    final = F.when(F.col("__s_in").isNull(), F.col("__e")).otherwise(
        F.col("__z") + F.pow(F.lit(1.0 - alpha), F.col("__i")) * F.col("__s_in")
    )
    result = out.withColumn(out_col, final).drop(
        "__e", "__z", "__i", "__s_in", "__wchunk"
    )
    return result.unionByName(null_rows)
