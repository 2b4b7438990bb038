"""Q5 — time-weighted average per bucket (reference
db/get_sampled_data_with_time_weight.sql, which delegates to Timescale
Toolkit's ``time_weight('Linear'|'LOCF') → average()``).

Spark has no built-in time-weighted aggregate; this is pure window
arithmetic (no UDF, fully codegen'd) with **explicitly defined
boundary semantics** (SURVEY §7.4 flagged Toolkit's boundary rules as
a parity risk, so ours are pinned down and mirrored 1:1 in the DuckDB
oracle):

Within each origin-aligned bucket of width W, for in-bucket samples
(t_1..t_n, v_1..v_n) ordered by time:

- LOCF: each sample holds until the next sample, the last until the
  bucket end:  w_i = min(t_{i+1}, bucket_end) − t_i;
  result = Σ v_i·w_i / Σ w_i      (Σ w_i = bucket_end − t_1)
- Linear: trapezoid between consecutive in-bucket samples:
  result = Σ (v_i+v_{i+1})/2 · (t_{i+1}−t_i) / (t_n − t_1);
  a single-sample bucket yields its value.

No interpolation across bucket boundaries (matches plain per-bucket
``time_weight`` — Toolkit only crosses buckets with the separate
``interpolated_average``).

The bucket width derives from the requested resolution like Q2
(reference :16: ``(end-start)/resolution``).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eventhub_to_timescale_spark.functions.scalars import epoch_bucket
from eventhub_to_timescale_spark.operators.timeseries import _ordered, time_slice
from eventhub_to_timescale_spark.plans.adaptive import resolution_bucket_seconds

METHOD_LOCF = "locf"
METHOD_LINEAR = "linear"


def time_weighted_average(
    conditions: DataFrame,
    subject: str,
    of: str,
    start: datetime,
    end: datetime,
    method: str = METHOD_LOCF,
    resolution: int = 360,
) -> DataFrame:
    """→ (dt, time_weighted_value) per bucket, ordered by dt."""
    method = method.lower()
    if method not in (METHOD_LOCF, METHOD_LINEAR):
        raise ValueError(f"method must be locf|linear, got {method!r}")
    bucket_s = resolution_bucket_seconds(start, end, resolution)

    sliced = time_slice(conditions, subject, of, start, end).filter(
        F.col("measurement_number").isNotNull()
    )
    epoch = F.unix_micros(F.col("timestamp")) / F.lit(1_000_000.0)
    cols = [
        epoch_bucket(F.col("timestamp"), bucket_s).alias("dt"),
        epoch.alias("t"),
        F.col("measurement_number").alias("v"),
    ]
    # duplicate timestamps: order by (t, uid) so LOCF weight
    # assignment is deterministic and mirrors the oracle exactly
    order_cols = ["t"]
    if "measurement_unique_id" in conditions.columns:
        cols.append(F.col("measurement_unique_id").alias("uid"))
        order_cols.append("uid")
    df = sliced.select(*cols)
    w = Window.partitionBy("dt").orderBy(*order_cols)
    next_t = F.lead("t").over(w)
    next_v = F.lead("v").over(w)

    if method == METHOD_LOCF:
        bucket_end = (
            F.unix_micros(F.col("dt")) / F.lit(1_000_000.0) + F.lit(bucket_s)
        )
        weight = F.coalesce(next_t, bucket_end) - F.col("t")
        agg = df.withColumn("w", weight).groupBy("dt").agg(
            (F.sum(F.col("v") * F.col("w")) / F.sum("w")).alias(
                "time_weighted_value"
            )
        )
    else:
        seg = F.when(
            next_t.isNotNull(),
            (F.col("v") + next_v) / F.lit(2.0) * (next_t - F.col("t")),
        )
        agg = (
            df.withColumn("seg", seg)
            .groupBy("dt")
            .agg(
                F.sum("seg").alias("area"),
                (F.max("t") - F.min("t")).alias("span"),
                # span==0 ⇒ every sample shares one timestamp; MIN(v)
                # is the deterministic, engine-portable pick (min_by
                # on a tied key is arbitrary)
                F.min("v").alias("first_v"),
            )
            .select(
                "dt",
                F.when(F.col("span") > 0, F.col("area") / F.col("span"))
                .otherwise(F.col("first_v"))
                .alias("time_weighted_value"),
            )
        )
    return _ordered(agg, "dt")
