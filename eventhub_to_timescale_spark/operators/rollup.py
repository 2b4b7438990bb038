"""Continuous rollups: the hypertable continuous-aggregate analog.

The reference computes every aggregate from raw rows at query time
(db/get_aggregated_data_by_interval.sql full-scans the hypertable
slice). At 100 TB the winning architecture is TimescaleDB's own
continuous-aggregate idea re-expressed in Spark: maintain an ADDITIVE
pre-aggregation at a fine bucket, answer aligned queries from it, and
cascade it to coarser resolutions without touching raw data again.

- ``rollup_conditions`` → one row per (subject, of, bucket) carrying
  (count, sum, min, max): every statistic here is a commutative
  monoid, so map-side partial aggregation applies and rollups of
  rollups are exact — no avg stored, avg is derived sum/count at
  read time (storing avg would break additivity).
- ``rollup_cascade`` re-aggregates a fine rollup into a coarser one
  (factor × bucket). Input is already ~bucket_count rows, not raw
  rows: a year of 1-minute rollups cascades to hourly from 525 k rows
  per series, not from the raw 100 TB.
- ``bucket_avg_from_rollup`` answers the Q1 contract (time, avg)
  from the rollup when the requested interval is a multiple of the
  rollup bucket — proven equal to the raw-scan path against the same
  DuckDB oracle (`q1_from_rollup` shares q1's oracle SQL).

Storage note: persist with ``write_conditions_bucketed``-style
bucketing on (subject) and partition by bucket date — queries then
prune to the requested window and never shuffle.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eventhub_to_timescale_spark.functions.scalars import epoch_bucket


def rollup_conditions(
    conditions: DataFrame,
    bucket_seconds: int = 60,
) -> DataFrame:
    """Raw conditions → additive per-bucket statistics."""
    if bucket_seconds <= 0:
        raise ValueError(f"bucket_seconds must be positive, got {bucket_seconds}")
    return (
        conditions.filter(F.col("measurement_number").isNotNull())
        .groupBy(
            "measurement_subject",
            "measurement_of",
            epoch_bucket(F.col("timestamp"), bucket_seconds).alias("bucket_time"),
        )
        .agg(
            F.count("measurement_number").alias("n"),
            F.sum("measurement_number").alias("sum_value"),
            F.min("measurement_number").alias("min_value"),
            F.max("measurement_number").alias("max_value"),
        )
    )


def rollup_cascade(
    rollup: DataFrame,
    fine_bucket_seconds: int,
    factor: int,
) -> DataFrame:
    """Fine rollup → coarser rollup (bucket = fine × factor), exact by
    additivity; never reads raw rows."""
    if factor <= 1:
        raise ValueError(f"factor must be > 1, got {factor}")
    coarse = fine_bucket_seconds * factor
    return (
        rollup.groupBy(
            "measurement_subject",
            "measurement_of",
            epoch_bucket(F.col("bucket_time"), coarse).alias("bucket_time"),
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )


def bucket_avg_from_rollup(
    rollup: DataFrame,
    rollup_bucket_seconds: int,
    subject: str,
    of: str,
    start: datetime,
    end: datetime,
    bucket_seconds: int,
) -> DataFrame:
    """Q1 (time, avg_value) answered from the rollup instead of raw
    rows, over the HALF-OPEN window [start, end). Requires interval
    alignment — a misaligned request MUST go to the raw path (a rollup
    bucket straddling the requested edge cannot be split), so this
    guards instead of silently approximating.

    Half-open is the only window a rollup can serve exactly: an
    inclusive end would need the single instant ts == end out of the
    bucket starting at end, which a pre-aggregated bucket cannot
    split (the round-5 inclusive slice silently counted that whole
    bucket once data existed at or past end). Inclusive-end requests
    belong on the raw path."""
    if bucket_seconds % rollup_bucket_seconds != 0:
        raise ValueError(
            f"requested bucket {bucket_seconds}s is not a multiple of the "
            f"rollup bucket {rollup_bucket_seconds}s — use the raw-scan path"
        )
    epoch = datetime(1970, 1, 1)
    for name, edge in (("start", start), ("end", end)):
        # naive datetimes are UTC by session contract; avoid
        # .timestamp(), which would re-interpret them in local time
        if int((edge - epoch).total_seconds()) % rollup_bucket_seconds != 0:
            raise ValueError(
                f"{name}={edge} is not aligned to the rollup bucket "
                f"({rollup_bucket_seconds}s) — use the raw-scan path"
            )
    sliced = rollup.filter(
        (F.col("measurement_subject") == subject)
        & (F.col("measurement_of") == of)
        & (F.col("bucket_time") >= start)
        & (F.col("bucket_time") < end)
    )
    return (
        sliced.groupBy(
            epoch_bucket(F.col("bucket_time"), bucket_seconds).alias("time")
        )
        .agg(
            (F.sum("sum_value") / F.sum("n")).alias("avg_raw"),
        )
        .select("time", F.round("avg_raw", 6).alias("avg_value"))
        .orderBy("time")
    )


def rollup_upsert(
    rollup: DataFrame,
    late_conditions: DataFrame,
    bucket_seconds: int,
) -> DataFrame:
    """Incremental rollup maintenance: fold a batch of LATE raw rows
    into an existing rollup, recomputing ONLY the touched buckets —
    the continuous-aggregate refresh path (TimescaleDB refreshes the
    invalidated bucket range; reference analog: the hypertable is
    simply re-queried, `db/get_aggregated_data_by_interval.sql`).

    Exact by additivity: every stored statistic is a commutative
    monoid (count/sum/min/max), so ``merge(partial(on_time),
    partial(late)) == partial(all)`` — pinned by
    ``tests/test_rollup_upsert.py`` against a from-scratch rebuild.

    100 TB posture: the 100 TB side of this operation is the EXISTING
    rollup, and it never shuffles.  The late batch (small by nature —
    stragglers past the watermark) aggregates to per-bucket partials
    first; its distinct key set broadcasts to both probes: a
    left-anti pass streams untouched rollup rows through unchanged
    and a left-semi pass extracts the touched rows, so the only
    exchange in the plan is the merge groupBy over |touched| + |late|
    rows (plan-pinned: both probes BroadcastHashJoin, no
    SortMergeJoin).  On a date-partitioned rollup table the writer
    additionally rewrites only the partitions the touched keys live
    in (dynamic partition overwrite), which is what bounds the I/O —
    the two probe scans here are the in-plan equivalent.
    """
    late = rollup_conditions(late_conditions, bucket_seconds)
    keys = ["measurement_subject", "measurement_of", "bucket_time"]
    touched_keys = late.select(*keys).distinct()
    untouched = rollup.join(F.broadcast(touched_keys), keys, "left_anti")
    touched = rollup.join(F.broadcast(touched_keys), keys, "left_semi")
    merged = (
        touched.unionByName(late)
        .groupBy(*keys)
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )
    return untouched.unionByName(merged)


__all__ = [
    "rollup_conditions",
    "rollup_cascade",
    "bucket_avg_from_rollup",
    "rollup_upsert",
]
