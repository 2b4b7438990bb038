"""DuckDB reference computations the benchmark checks the engine's
outputs against, outside the timed region.

Ingest: the engine's stored conditions rows for each micro-batch must
equal the ``sources.synth`` oracles run over the generated events of
that batch's file, by row count and order-insensitive hash.

Panels: a seeded sample of panel results must equal the same panel
written as SQL over the stored parquet.  The SQL here is written from
the reference semantics (bucket arithmetic, tie-breaks), not derived
from the engine's plans.
"""

from __future__ import annotations

import math
from datetime import datetime, timezone

import duckdb

from eventhub_to_timescale_spark.sources.synth import EMON_ORACLE, GLOW_ORACLE, HOMIE_ORACLE

# event_id % 3 → the publisher the generator rendered the event as
PUBLISHER_ORACLES = ((0, GLOW_ORACLE, False), (1, HOMIE_ORACLE, True), (2, EMON_ORACLE, True))

_ROW_HASH = (
    "hash(timestamp, measurement_subject, measurement_publisher, measurement_of, "
    "round(measurement_number, 6), measurement_string)"
)


def slice_expr(col: str, base_us: int, slice_us: int, n_slices: int) -> str:
    return f"least(CAST(floor((epoch_us({col}) - {base_us}) / {slice_us}) AS BIGINT), {n_slices - 1})"


def expected_by_slice(
    con: duckdb.DuckDBPyConnection, events_path: str, slices: list[int], base_us: int, slice_us: int, n_slices: int
) -> dict[int, tuple[int, int]]:
    """slice → (rows, hash sum) the ingest path must store for it."""
    con.execute(
        f"CREATE OR REPLACE TABLE ev AS SELECT *, {slice_expr('ts', base_us, slice_us, n_slices)} AS slice "
        f"FROM read_parquet('{events_path}')"
    )
    out = {}
    for s in slices:
        rows = total = 0
        for mod, sql, has_string in PUBLISHER_ORACLES:
            con.execute(f"CREATE OR REPLACE TEMP VIEW events AS SELECT * FROM ev WHERE slice = {s} AND event_id % 3 = {mod}")
            string = "measurement_string" if has_string else "CAST(NULL AS VARCHAR) AS measurement_string"
            n, h = con.execute(
                f"SELECT count(*), coalesce(sum({_ROW_HASH}), 0) FROM ("
                f"SELECT timestamp, measurement_subject, measurement_publisher, measurement_of, "
                f"measurement_number, {string} FROM ({sql}))"
            ).fetchone()
            rows += n
            total += int(h)
        out[s] = (rows, total)
    return out


def stored_by_batch(con: duckdb.DuckDBPyConnection, out_dir: str) -> dict[int, tuple[int, int]]:
    """_batch_id → (rows, hash sum) of what the stream sink stored."""
    got = con.execute(
        f"SELECT _batch_id, count(*), coalesce(sum({_ROW_HASH}), 0) "
        f"FROM read_parquet('{out_dir}/**/*.parquet', hive_partitioning = true) GROUP BY 1"
    ).fetchall()
    return {int(b): (n, int(h)) for b, n, h in got}


# ---------------------------------------------------------------------------
# Panels
# ---------------------------------------------------------------------------


def _bucket(w: float) -> str:
    return f"make_timestamp(CAST(floor(epoch(timestamp) / {w}) * {w} AS BIGINT) * 1000000)"


def _ts(t: datetime) -> str:
    return f"TIMESTAMP '{t:%Y-%m-%d %H:%M:%S}'"


def q1_interval_seconds(start: datetime, end: datetime) -> int:
    """Q1 panels draw 120 buckets over their window."""
    return int((end - start).total_seconds()) // 120


def panel_sql(con: duckdb.DuckDBPyConnection, kind: str, subject: str | None, start: datetime, end: datetime) -> str:
    span = (end - start).total_seconds()
    rng = f"timestamp BETWEEN {_ts(start)} AND {_ts(end)}"
    one = f"measurement_subject = '{subject}' AND {rng}"
    if kind in ("q1", "q2"):
        w = q1_interval_seconds(start, end) if kind == "q1" else span / 200
        return (
            f"SELECT {_bucket(w)} AS time, AVG(measurement_number) AS avg_value FROM store "
            f"WHERE {one} AND measurement_of = 'value' GROUP BY 1 ORDER BY 1 LIMIT 200"
        )
    if kind == "q3":
        if span > 86400:
            return (
                "SELECT CAST(date_trunc('day', timestamp) AS TIMESTAMP) AS time, MAX(measurement_number) AS max_value "
                f"FROM store WHERE {one} AND measurement_of = 'value' GROUP BY 1"
            )
        w = span / min(360.0, span / 900.0)
        return (
            "SELECT date_trunc('day', timestamp) + to_microseconds(CAST(floor("
            f"epoch(timestamp - date_trunc('day', timestamp)) / {w}) * {w} * 1000000 AS BIGINT)) AS time, "
            f"AVG(measurement_number) AS avg_value FROM store WHERE {one} AND measurement_of = 'value' GROUP BY 1"
        )
    if kind == "q4":
        n = con.execute(f"SELECT count(*) FROM store WHERE {one} AND measurement_of = 'event_type'").fetchone()[0]
        w = float(max(1, int(span / 360.0 + 0.5))) if n > 360 else 60.0
        return f"""
WITH counted AS (
  SELECT {_bucket(w)} AS time, measurement_string, count(*) AS cnt
  FROM store WHERE {one} AND measurement_of = 'event_type' GROUP BY 1, 2
)
SELECT time, measurement_string AS most_common_value FROM counted
QUALIFY row_number() OVER (PARTITION BY time
  ORDER BY (measurement_string IS NULL) ASC, cnt DESC, measurement_string ASC) = 1"""
    if kind == "q5":
        w = span / 360
        return f"""
WITH pts AS (
  SELECT {_bucket(w)} AS dt, epoch(timestamp) AS t, measurement_number AS v, measurement_unique_id AS uid
  FROM store WHERE {one} AND measurement_of = 'value' AND measurement_number IS NOT NULL
), win AS (
  SELECT dt, t, v, lead(t) OVER (PARTITION BY dt ORDER BY t, uid) AS next_t FROM pts
)
SELECT dt, SUM(v * (COALESCE(next_t, epoch(dt) + {w}) - t)) / SUM(COALESCE(next_t, epoch(dt) + {w}) - t)
       AS time_weighted_value
FROM win GROUP BY dt"""
    if kind == "q6":
        w = span / 360
        return f"""
WITH grid AS (
  SELECT {_bucket(w)} AS time, AVG(measurement_number) AS value
  FROM store WHERE {one} AND measurement_of = 'value' AND measurement_number IS NOT NULL GROUP BY 1
)
SELECT time, ROUND(AVG(value) OVER (ORDER BY time ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS smoothed_value
FROM grid"""
    if kind == "q7":
        return f"SELECT DISTINCT measurement_subject FROM store WHERE measurement_of = 'event_type' AND {rng}"
    changes = f"""
WITH lagged AS (
  SELECT timestamp, measurement_subject, measurement_of, measurement_string, measurement_unique_id,
         lag(measurement_string) OVER (PARTITION BY measurement_subject
                                       ORDER BY timestamp, measurement_unique_id) AS prev_value
  FROM store WHERE measurement_of = 'event_type' AND {rng}
), changes AS (
  SELECT * FROM lagged WHERE measurement_string IS DISTINCT FROM prev_value
)"""
    if kind == "q8":
        return changes + (
            " SELECT timestamp, measurement_subject, measurement_of, measurement_string AS value FROM changes"
        )
    if kind == "q9":
        return changes + f"""
SELECT timestamp AS time,
       COALESCE(lead(timestamp) OVER (PARTITION BY measurement_subject
                                      ORDER BY timestamp, measurement_unique_id), {_ts(end)}) AS time_end,
       measurement_subject, measurement_string AS value
FROM changes"""
    raise ValueError(f"unknown panel kind {kind!r}")


def _canon(v):
    if isinstance(v, datetime):
        return (v.astimezone(timezone.utc).replace(tzinfo=None) if v.tzinfo else v).isoformat()
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    return v


def _key(row: tuple) -> tuple:
    return tuple((x is None, "" if x is None else str(x)) for x in row)


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive equality; numbers agree to 1e-6 relative."""
    if len(got) != len(want):
        return False
    g = sorted((tuple(_canon(x) for x in r) for r in got), key=_key)
    w = sorted((tuple(_canon(x) for x in r) for r in want), key=_key)
    for a, b in zip(g, w):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if abs(x - y) > 1e-6 * max(1.0, abs(y)):
                    return False
            elif x != y:
                return False
    return True
