"""FILL(previous | linear | null | <constant>) — gap filling over bucketed
aggregates.

The reference parses FILL into its Aggregate node (ast.zig:129-139,
parser.zig:280-320) but never executes it; target semantics are "applied
post-aggregation per group-by bucket" (sydraql-design.md:77-81,138). The
spine bounds are the min/max bucket *present per group* (the reference never
decided bounds — documented choice). Two plans give the same rows:

``fill_buckets_one_pass`` — for a query whose spine is known to be small.
One window pass over the aggregated frame orders each group's present
buckets; each present bucket then emits itself and the gap up to the next
present bucket (a bounded explode). There is no bounds re-scan and no spine
join. The sydraQL translator picks it (``translator.one_pass_fill``) when
the grouping is ``time_bucket(step, time[, origin])`` over bare ``time`` and
the WHERE's literal bounds give ``(mx - mn) // step + 2 <= CHUNK_BUCKETS``:
the WHERE filter runs before aggregation, so no group's spine — and hence
no window partition — can exceed ``CHUNK_BUCKETS`` rows, the same limit the
chunked plan keeps.

``fill_buckets`` — chunk-and-carry, for every other query (Spark recipe,
SURVEY §2.9: build the dense bucket spine per group, left-join the
aggregated result, then patch nulls per strategy). Scale design:

- The spine is generated per-group in two levels (chunk ids, then buckets
  within a chunk) so no single row ever explodes more than ``CHUNK_BUCKETS``
  elements — a year-long 1-second range distributes across tasks instead of
  materializing one giant array on one executor.
- previous/linear never use an unpartitioned window over the buckets. Each
  window is partitioned by (group keys, chunk) — bounded at ``CHUNK_BUCKETS``
  rows — and cross-chunk carry values come from a second window over the
  per-chunk summary frame, which has one row per chunk (tiny even for a
  decade of 1s buckets: ~5k rows).
- A group spanning more than ``MAX_SPINE_BUCKETS`` raises an explicit error
  instead of silently disappearing from the result.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

CHUNK_BUCKETS = 65_536  # buckets per window partition
MAX_SPINE_BUCKETS = 1_000_000_000  # refuse to densify absurd ranges
STRATEGIES = ("null", "constant", "previous", "linear")


def fill_buckets(
    agg: DataFrame,
    bucket_col: str,
    step_s: int,
    keys: list[str],
    value_cols: list[str],
    strategy: str,
    constant: object | None = None,
) -> DataFrame:
    """Densify ``agg`` on ``bucket_col`` (epoch-second longs, step ``step_s``)
    and fill nulls in ``value_cols`` per ``strategy``.

    strategy: "null" | "constant" | "previous" | "linear"
    """
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown fill strategy {strategy!r}")

    other_cols = [
        c for c in agg.columns if c not in value_cols and c != bucket_col and c not in keys
    ]

    bucket = F.col(bucket_col)
    bounds = agg.groupBy(*keys).agg(
        F.min(bucket_col).alias("__mn"), F.max(bucket_col).alias("__mx")
    )
    span = (F.col("__mx") - F.col("__mn")) / F.lit(step_s)
    # Load-bearing guard: folded into __mn itself (which the spine reads), so
    # Catalyst cannot prune it away — a guard in an unreferenced column would
    # be eliminated by project collapse and never fire.
    bounds = bounds.withColumn(
        "__mn",
        F.when(
            span >= MAX_SPINE_BUCKETS,
            F.raise_error(
                F.concat(
                    F.lit(f"FILL spine exceeds {MAX_SPINE_BUCKETS} buckets for group ("),
                    F.concat_ws(",", *[F.col(k).cast("string") for k in keys])
                    if keys
                    else F.lit(""),
                    F.lit(")"),
                )
            ).cast("long"),
        ).otherwise(F.col("__mn")),
    )

    # Two-level spine: explode chunk indices, then buckets within each chunk.
    n_chunks = F.floor((F.col("__mx") - F.col("__mn")) / F.lit(step_s * CHUNK_BUCKETS))
    spine = (
        bounds.select(
            *keys,
            F.col("__mn"),
            F.col("__mx"),
            F.explode(F.sequence(F.lit(0), n_chunks)).alias("__chunk"),
        )
        .select(
            *keys,
            "__chunk",
            F.explode(
                F.sequence(
                    F.col("__mn") + F.col("__chunk") * F.lit(step_s * CHUNK_BUCKETS),
                    F.least(
                        F.col("__mx"),
                        F.col("__mn")
                        + (F.col("__chunk") + 1) * F.lit(step_s * CHUNK_BUCKETS)
                        - F.lit(step_s),
                    ),
                    F.lit(step_s),
                )
            ).alias(bucket_col),
        )
    )
    joined = spine.join(agg, on=[*keys, bucket_col], how="left")

    if strategy == "null":
        return joined.drop("__chunk")
    if strategy == "constant":
        return joined.select(
            *keys,
            bucket_col,
            *[F.coalesce(F.col(c), F.lit(constant)).alias(c) for c in value_cols],
            *other_cols,
        )

    # previous / linear: within-chunk windows (bounded partitions) + a carry
    # pass over the one-row-per-chunk summary frame.
    wck = Window.partitionBy(*keys, "__chunk").orderBy(bucket_col)
    back = wck.rowsBetween(Window.unboundedPreceding, 0)
    fwd = wck.rowsBetween(0, Window.unboundedFollowing)

    summary_aggs: list[Column] = []
    for i, c in enumerate(value_cols):
        v = F.col(c)
        nb = F.when(v.isNotNull(), bucket)
        summary_aggs += [
            F.max_by(v, nb).alias(f"__lv{i}"),
            F.max(nb).alias(f"__lb{i}"),
            F.min_by(v, nb).alias(f"__fv{i}"),
            F.min(nb).alias(f"__fb{i}"),
        ]
    summary = joined.groupBy(*keys, "__chunk").agg(*summary_aggs)
    ws = Window.partitionBy(*keys).orderBy("__chunk")
    carry_cols: list[Column] = []
    for i in range(len(value_cols)):
        prev_w = ws.rowsBetween(Window.unboundedPreceding, -1)
        next_w = ws.rowsBetween(1, Window.unboundedFollowing)
        carry_cols += [
            F.last(F.col(f"__lv{i}"), ignorenulls=True).over(prev_w).alias(f"__cpv{i}"),
            F.last(F.col(f"__lb{i}"), ignorenulls=True).over(prev_w).alias(f"__cpb{i}"),
            F.first(F.col(f"__fv{i}"), ignorenulls=True).over(next_w).alias(f"__cnv{i}"),
            F.first(F.col(f"__fb{i}"), ignorenulls=True).over(next_w).alias(f"__cnb{i}"),
        ]
    carry = summary.select(*keys, "__chunk", *carry_cols)
    joined = joined.join(carry, on=[*keys, "__chunk"], how="left")

    out_cols: list[Column] = []
    for i, c in enumerate(value_cols):
        v = F.col(c)
        nb = F.when(v.isNotNull(), bucket)
        prev_v = F.coalesce(F.last(v, ignorenulls=True).over(back), F.col(f"__cpv{i}"))
        prev_b = F.coalesce(F.last(nb, ignorenulls=True).over(back), F.col(f"__cpb{i}"))
        if strategy == "previous":
            out_cols.append(F.coalesce(v, prev_v).alias(c))
            continue
        next_v = F.coalesce(F.first(v, ignorenulls=True).over(fwd), F.col(f"__cnv{i}"))
        next_b = F.coalesce(F.first(nb, ignorenulls=True).over(fwd), F.col(f"__cnb{i}"))
        lerp = prev_v + (next_v - prev_v) * (bucket - prev_b) / (next_b - prev_b)
        out_cols.append(F.when(v.isNotNull(), v).otherwise(lerp).alias(c))
    return joined.select(*keys, bucket_col, *out_cols, *other_cols)


def fill_buckets_one_pass(
    agg: DataFrame,
    bucket_col: str,
    step_s: int,
    keys: list[str],
    value_cols: list[str],
    strategy: str,
    constant: object | None = None,
) -> DataFrame:
    """``fill_buckets`` for a frame whose groups each span at most
    ``CHUNK_BUCKETS`` buckets: the same rows and values from one window pass
    and a bounded explode.

    Per present bucket (unique per group after aggregation, so the order is
    total) the window yields the next present bucket and, per value column,
    the last non-null (value, bucket) up to and including this row and the
    first non-null one after it. Those are exactly the carry values every
    bucket of the gap this row emits would see in the chunked plan, so
    previous/linear and the lerp expression itself are unchanged."""
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown fill strategy {strategy!r}")
    other_cols = [
        c for c in agg.columns if c not in value_cols and c != bucket_col and c not in keys
    ]
    bucket = F.col(bucket_col)
    w = Window.partitionBy(*keys).orderBy(bucket_col)
    back = w.rowsBetween(Window.unboundedPreceding, 0)
    fwd = w.rowsBetween(1, Window.unboundedFollowing)
    carry: list[Column] = [F.lead(bucket).over(w).alias("__next")]
    for i, c in enumerate(value_cols):
        v = F.col(c)
        nb = F.when(v.isNotNull(), bucket)
        if strategy in ("previous", "linear"):
            carry.append(F.last(v, ignorenulls=True).over(back).alias(f"__pv{i}"))
        if strategy == "linear":
            carry += [
                F.last(nb, ignorenulls=True).over(back).alias(f"__pb{i}"),
                F.first(v, ignorenulls=True).over(fwd).alias(f"__nv{i}"),
                F.first(nb, ignorenulls=True).over(fwd).alias(f"__nb{i}"),
            ]
    gap_end = F.coalesce(F.col("__next") - F.lit(step_s), bucket)
    rows = agg.select("*", *carry).withColumn(
        "__b", F.explode(F.sequence(bucket, gap_end, F.lit(step_s)))
    )

    b = F.col("__b")
    present = b == bucket
    out_cols: list[Column] = []
    for i, c in enumerate(value_cols):
        v = F.when(present, F.col(c))  # NULL on the buckets of a gap
        if strategy == "null":
            out_cols.append(v.alias(c))
        elif strategy == "constant":
            out_cols.append(F.coalesce(v, F.lit(constant)).alias(c))
        elif strategy == "previous":
            out_cols.append(F.col(f"__pv{i}").alias(c))
        else:
            prev_v, prev_b = F.col(f"__pv{i}"), F.col(f"__pb{i}")
            next_v, next_b = F.col(f"__nv{i}"), F.col(f"__nb{i}")
            lerp = prev_v + (next_v - prev_v) * (b - prev_b) / (next_b - prev_b)
            out_cols.append(F.when(v.isNotNull(), v).otherwise(lerp).alias(c))
    return rows.select(
        *keys,
        b.alias(bucket_col),
        *out_cols,
        *[F.when(present, F.col(c)).alias(c) for c in other_cols],
    )
