"""Dense-grid gap filling: the ``time_bucket_gapfill`` analog.

TimescaleDB consumers chart with
``time_bucket_gapfill(interval, ts) + locf()/interpolate()`` so every
bucket in the requested window renders, observed or not. The
reference's query functions return only observed buckets
(db/get_aggregated_data_by_interval.sql emits no empty rows); this
operator closes that consumer-side gap Spark-first:

1. the dense bucket grid is ``spark.range(n_buckets)`` mapped to
   timestamps — distributed, no driver loop, and n_buckets is bounded
   by window/bucket (a chart's resolution), never by data volume;
2. observed buckets left-join onto the grid (broadcast: the grid and
   the aggregate are both resolution-sized);
3. fill policy per TimescaleDB semantics:
   - ``None``  — missing buckets stay NULL (bare gapfill);
   - ``locf``  — last observed value carries forward; leading NULLs
     (before the first observation) stay NULL;
   - ``linear`` — interpolate between the surrounding observations;
     buckets before the first / after the last observation stay NULL
     (interpolate() has nothing to anchor to).

Observed bucket averages are rounded to 6 dp BEFORE interpolation so
the interpolation arithmetic runs on identical inputs in any engine —
the DuckDB oracle replays the formula bit-for-bit.

The fill windows order the whole single-series grid — one partition
by construction, and correctly so: a fill is a sequential scan of a
chart-sized frame, not a data-volume operation.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eventhub_to_timescale_spark.functions.scalars import epoch_bucket
from eventhub_to_timescale_spark.operators.timeseries import _ordered, time_slice


def bucket_gapfill(
    conditions: DataFrame,
    subject: str,
    of: str,
    start: datetime,
    end: datetime,
    bucket_seconds: int,
    fill: str | None = "locf",
) -> DataFrame:
    """→ dense (time, value) covering every bucket of [start, end)."""
    if fill not in (None, "locf", "linear"):
        raise ValueError(f"fill must be None, 'locf' or 'linear', got {fill!r}")
    if bucket_seconds <= 0:
        raise ValueError(f"bucket_seconds must be positive, got {bucket_seconds}")
    spark = conditions.sparkSession

    start_us = int(start.timestamp() * 1_000_000)
    end_us = int(end.timestamp() * 1_000_000)
    bucket_us = bucket_seconds * 1_000_000
    grid_start = (start_us // bucket_us) * bucket_us
    n_buckets = max((end_us - grid_start + bucket_us - 1) // bucket_us, 0)

    grid = spark.range(n_buckets).select(
        F.timestamp_micros(
            (F.lit(grid_start) + F.col("id") * bucket_us).cast("long")
        ).alias("time")
    )
    observed = (
        time_slice(conditions, subject, of, start, end)
        .filter(F.col("measurement_number").isNotNull())
        .groupBy(
            epoch_bucket(F.col("timestamp"), bucket_seconds).alias("time")
        )
        .agg(F.round(F.avg("measurement_number"), 6).alias("obs"))
    )
    dense = grid.join(F.broadcast(observed), "time", "left")

    if fill is None:
        return _ordered(dense.select("time", F.col("obs").alias("value")), "time")

    w_back = Window.orderBy("time").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    if fill == "locf":
        return dense.select(
            "time",
            F.last("obs", ignorenulls=True).over(w_back).alias("value"),
        ).orderBy("time")

    w_fwd = Window.orderBy("time").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    prev_v = F.last("obs", ignorenulls=True).over(w_back)
    next_v = F.first("obs", ignorenulls=True).over(w_fwd)
    prev_t = F.last(
        F.when(F.col("obs").isNotNull(), F.col("time")), ignorenulls=True
    ).over(w_back)
    next_t = F.first(
        F.when(F.col("obs").isNotNull(), F.col("time")), ignorenulls=True
    ).over(w_fwd)
    span = F.unix_micros(next_t) - F.unix_micros(prev_t)
    frac = (F.unix_micros(F.col("time")) - F.unix_micros(prev_t)) / span
    interp = prev_v + (next_v - prev_v) * frac
    return dense.select(
        "time",
        F.round(
            F.when(F.col("obs").isNotNull(), F.col("obs")).otherwise(interp), 6
        ).alias("value"),
    ).orderBy("time")


__all__ = ["bucket_gapfill"]
