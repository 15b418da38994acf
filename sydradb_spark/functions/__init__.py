"""Time-series DataFrame function library (the reference's function registry,
re-expressed as Spark Column compositions — SURVEY §2.4-2.9)."""

from sydradb_spark.functions.timeseries import (  # noqa: F401
    time_bucket,
    rate_agg,
    delta_agg,
    first_agg,
    last_agg,
    irate_expr,
    trapezoid_expr,
    with_ema,
)
from sydradb_spark.functions.fill import fill_buckets  # noqa: F401
