"""The canonical points table — the engine's single data model.

The reference stores one record shape: ``{ts: i64 epoch-seconds, value: f64}``
per series, where a series is ``namespace.metric`` + tags and its identity is
``xxhash64(series ++ "|" ++ tags_json)`` (reference src/sydra/types.zig:5-22).
Segments are one series x one UTC hour (src/sydra/engine.zig:371-374).

Spark-first translation: ONE tall DataFrame, not per-series files:

    points(series_id long, series string, tags map<string,string>,
           ts long, value double, hour_bucket long)

partitioned by ``hour_bucket``. Partition pruning + Parquet min/max stats
replace the reference's manifest-based segment pruning
(src/sydra/storage/manifest.zig, segment.zig:115-175).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

SECONDS_PER_HOUR = 3600

POINTS_SCHEMA = StructType(
    [
        StructField("series_id", LongType(), False),
        StructField("series", StringType(), False),
        StructField("tags", MapType(StringType(), StringType(), False), True),
        StructField("ts", LongType(), False),
        StructField("value", DoubleType(), True),
        StructField("hour_bucket", LongType(), False),
    ]
)


# the (series, tags, ts, value) shape an ingest batch arrives in
INPUT_SCHEMA = "series string, tags map<string,string>, ts long, value double"


def driver_batch(spark, rows: list) -> DataFrame:
    """A driver-built (series, tags, ts, value) batch as ONE slice.
    ``createDataFrame(rows)`` would split the rows across the default
    parallelism; one slice lets ``storage.write_points`` write the batch in
    one task without a shuffle (the HTTP ingest route and sydraQL INSERT)."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), INPUT_SCHEMA)


def canonical_tags_json(tags: Column) -> Column:
    """Deterministic JSON for a tags map: entries sorted by key.

    The reference hashes the raw tags JSON string; for a stable identity we
    canonicalize (sorted keys, no spaces) so the same logical tag set always
    hashes identically regardless of ingest order.

    ``sort_array`` (not ``array_sort``, whose comparator lambda Catalyst
    cannot fold) orders the entries: they are non-null structs with unique
    keys, so both sort by key and give the same JSON. Over literal
    arguments the whole identity then folds to a constant at planning time
    (see ``series_id_literal``).
    """
    sorted_map = F.map_from_entries(F.sort_array(F.map_entries(tags)))
    return F.when(tags.isNull() | (F.size(F.map_entries(tags)) == 0), F.lit("{}")).otherwise(
        F.to_json(sorted_map)
    )


def series_id(series: Column, tags: Column) -> Column:
    """Stable series identity: xxhash64(series || '|' || canonical_tags_json).

    Identity semantics of reference src/sydra/types.zig:16-22 (exact hash
    value parity is not required — only that (series, tags) maps 1:1).
    """
    return F.xxhash64(F.concat(series, F.lit("|"), canonical_tags_json(tags)))


def series_id_literal(series: str, tags: dict) -> Column:
    """``series_id`` of one literal (series, tags): a constant Catalyst
    folds while planning, so a filter on it pushes into the scan as
    ``series_id = <long>`` and hashing the name runs no Spark job."""
    items = [F.lit(str(x)) for kv in sorted(tags.items()) for x in kv]
    tag_col = (
        F.create_map(*items) if items else F.create_map().cast("map<string,string>")
    )
    return series_id(F.lit(series), tag_col)


def hour_bucket(ts: Column) -> Column:
    """UTC hour partition: (ts div 3600) * 3600 — reference engine.zig:371-374."""
    return (F.floor(ts / SECONDS_PER_HOUR) * SECONDS_PER_HOUR).cast("long")


def with_identity(df: DataFrame, extra: list[str] | None = None) -> DataFrame:
    """Add series_id + hour_bucket to a frame with (series, tags, ts, value).

    ``extra`` names pass-through columns kept after the canonical six
    (e.g. an ingest-order ``seq`` for last-wins compaction).
    """
    return (
        df.withColumn("series_id", series_id(F.col("series"), F.col("tags")))
        .withColumn("hour_bucket", hour_bucket(F.col("ts")))
        .select("series_id", "series", "tags", "ts", "value", "hour_bucket", *(extra or []))
    )
