"""Tag inverted index + boolean tag find.

Reference: tags.zig:4-50 maintains ``"k=v" → [series_id]``; /api/v1/find
(http.zig:832-912) intersects (AND) or unions (OR) those sets.

Spark-first: the index is a *derived* DataFrame (explode the tags map,
distinct) — never a second source of truth to keep in sync. Find does not
need the index: every row carries its series' tags map, so AND/OR is one
filter on map lookups (``tags[k] = v`` per requested pair) over a single
scan, deduplicated to one row per series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tag_pairs(points: DataFrame) -> DataFrame:
    """(tag_key, tag_value, series_id) distinct — the exploded index rows."""
    return (
        points.select("series_id", F.explode("tags").alias("tag_key", "tag_value"))
        .distinct()
    )


def tag_index(points: DataFrame) -> DataFrame:
    """Materialized inverted index: "k=v" → sorted series_id list
    (tags.zig shape, for the API layer)."""
    return (
        tag_pairs(points)
        .groupBy(
            F.concat(F.col("tag_key"), F.lit("="), F.col("tag_value")).alias("tag_kv")
        )
        .agg(F.sort_array(F.collect_set("series_id")).alias("series_ids"))
    )


def series_catalog(points: DataFrame) -> DataFrame:
    """Distinct (series_id, series, tags) — what find results join back to.
    dropDuplicates on series_id (not distinct) because Spark cannot run set
    operations over MAP columns; series_id determines (series, tags)."""
    return points.select("series_id", "series", "tags").dropDuplicates(["series_id"])


def find_series(
    points: DataFrame,
    match: dict[str, str] | list[tuple[str, str]],
    mode: str = "and",
) -> DataFrame:
    """Series whose tags match ALL (and) / ANY (or) of ``match``.

    ``match`` is a dict or, when the same key repeats (e.g. OR over
    host=a, host=b — the reference find accepts repeated keys,
    http.zig:853-891), a list of (key, value) pairs.
    Returns the series catalog rows (series_id, series, tags).
    """
    if mode not in ("and", "or"):
        raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")
    items = list(match.items()) if isinstance(match, dict) else list(dict.fromkeys(match))
    if not items:
        raise ValueError("empty match set")
    # a missing key or a null map looks up null: no match, not null
    hits = [F.coalesce(F.col("tags")[k] == v, F.lit(False)) for k, v in items]
    cond = hits[0]
    for h in hits[1:]:
        cond = (cond & h) if mode == "and" else (cond | h)
    return series_catalog(points.where(cond))
